"""Declared query corpus: every operator family from SURVEY §2 plus the
LLM-pipeline extensions, each as (Spark callable, DuckDB oracle SQL).

Conventions:
- every computed column is aliased identically in the Spark plan and
  the oracle SQL (the driver hash-compares after sorting columns by
  name);
- float aggregates are rounded the same number of decimals on both
  sides so IEEE summation-order differences can't flip the hash;
- oracle SQL is DuckDB dialect (regexp_replace needs the 'g' flag,
  hex→int is CAST('0x…' AS BIGINT), n-gram slicing via list ranges).

Each callable takes (spark, sf_dir) and returns a lazy DataFrame.
"""

from __future__ import annotations

import os
import tempfile
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.dedup import (
    dedup_exact,
    duplicate_clusters,
    embedding_near_duplicates,
    minhash_lsh_candidates,
    minhash_signatures,
    ngram_jaccard_pairs,
    select_survivors,
    simhash,
)
from ..functions.multimodal import documents_as_media, extract_features
from ..functions.util import read_parquet_state
from ..functions.similarity import brute_force_topk, lsh_bucket_topk
from ..functions.text import text_stats, top_tokens
from ..session import configure_session
from ..streaming.windows import hourly_counts, sessionize, sliding_value_avg

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def _sround(col, d: int):
    """Engine-stable rounding for averages of doubles.

    Spark rounds doubles via their shortest decimal representation
    (BigDecimal.valueOf), DuckDB via the binary value — they disagree
    whenever the shortest repr lands exactly on a .5 at the target
    scale (e.g. 273.09/8 → '34.13625'). Routing through DECIMAL(30,10)
    first makes both engines round the identical decimal value.
    Oracle-side equivalent: CAST(round(CAST(x AS DECIMAL(30,10)), d) AS DOUBLE).
    """
    return F.round(col.cast("decimal(30,10)"), d).cast("double")



def _recall_gate(bf: DataFrame, approx: DataFrame, min_recall: float = 0.8) -> DataFrame:
    """The shared ANN quality-gate tail (q08b/q33/q57/q140): exact
    brute-force truth stats (hash-verified by the oracle) + recall of
    the approximate pair set against the truth, pinned as an in-plan
    boolean. One place to change thresholds/tie-breaks for every gate."""
    hits = bf.join(approx, ["query_id", "neighbor_id"], "left_semi")
    truth_stats = bf.agg(
        F.count_distinct("query_id").alias("n_queries"),
        F.count("*").alias("n_truth"),
        _sround(F.avg(F.when(F.col("rank") == 1, F.col("sim"))), 4).alias(
            "avg_top1_sim"
        ),
    )
    recall = hits.agg(F.count("*").alias("n_hits"))
    return truth_stats.crossJoin(F.broadcast(recall)).select(
        "n_queries",
        "n_truth",
        "avg_top1_sim",
        (F.col("n_hits") / F.col("n_truth") >= min_recall).alias("recall_ok"),
    )


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from ..sources import read_parquet_table

    configure_session(spark)
    return read_parquet_table(spark, f"{sf_dir}/{name}.parquet")


_PAIR_CACHE: dict[tuple[str, str], DataFrame] = {}
_STAGE_CACHE_MAX = 4  # (session, sf_dir) entries per stage cache


def _cache_put(
    cache: dict, key: tuple, df: DataFrame, also_evict: list[dict] | None = None
) -> DataFrame:
    """Insert into a stage cache, evicting the oldest entries beyond
    _STAGE_CACHE_MAX — a long-lived session iterating many sf_dirs
    must not pin checkpointed blocks forever.

    Evicted frames are deliberately NOT unpersisted: localCheckpoint
    blocks are non-recoverable, so an in-flight plan (or a dependent
    cache entry lazily built on the evicted frame) would die with
    missing-checkpoint-block errors instead of recomputing. Dropping
    the reference is enough — Spark's ContextCleaner reclaims the
    blocks once nothing JVM-side references the RDD. Caches listed in
    *also_evict* (downstream stages built ON this cache's entries)
    drop the same key, so a dependent entry can never outlive its
    upstream. Entries assume the underlying parquet is immutable for
    the session (true for the testdata contract); callers regenerating
    a table in-place should clear the caches."""
    while len(cache) >= _STAGE_CACHE_MAX:
        oldest = next(iter(cache))  # dicts preserve insertion order
        cache.pop(oldest)
        for dependent in also_evict or ():
            dependent.pop(oldest, None)
    cache[key] = df
    return df


def _jaccard_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPJoin pair stage shared by the cluster/survivor queries.

    Clusters (q37) and survivors (q40) both start from the identical
    exact-jaccard pair set; localCheckpoint materializes it once per
    (session, sf_dir) so the second consumer pays zero pair-generation
    cost — the same "persist the shared stage" move a production dedup
    pipeline makes between its cluster and survivor passes."""
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _PAIR_CACHE:
        d = _t(spark, sf_dir, "documents")
        pairs = ngram_jaccard_pairs(
            d, "doc_id", "text", shingle_size=3, threshold=0.5
        )
        _cache_put(
            _PAIR_CACHE,
            key,
            pairs.localCheckpoint(eager=False),
            also_evict=[_CLUSTER_CACHE],
        )
    return _PAIR_CACHE[key]


_CLUSTER_CACHE: dict[tuple[str, str], DataFrame] = {}
_IVF_INDEX_CACHE: dict[tuple[str, str], str] = {}
_KMEANS_CACHE: dict[tuple[str, str, int], DataFrame] = {}


def _kmeans_assigned_cached(
    spark: SparkSession, sf_dir: str, k: int = 8
) -> DataFrame:
    """Shared 2-round Lloyd assignment stage (q141 cluster profile,
    q152 SemDeDup): each Lloyd round collects the tiny centroid set to
    the driver, so memoizing the assigned frame once per (session,
    sf_dir, k) saves both the driver round-trips and the assignment
    scans for every later consumer — clustering as a shared upstream
    stage, exactly how a production pipeline persists it. q152's
    corpus-derived k coincides with q141's k=8 at bench scale, so the
    two share one cache entry there; at corpus sizes where the derived
    k grows past 8 they key separately by design."""
    key = (spark.sparkContext.applicationId, sf_dir, k)
    if key not in _KMEANS_CACHE:
        from ..functions.clustering import kmeans_assignments

        assigned = kmeans_assignments(
            _t(spark, sf_dir, "embeddings"), k=k, iterations=2
        )
        _cache_put(
            _KMEANS_CACHE, key, assigned.localCheckpoint(eager=False)
        )
    return _KMEANS_CACHE[key]


_PQ_BOOKS_CACHE: dict[tuple[str, str], dict] = {}


def _pq_books_cached(spark: SparkSession, sf_dir: str) -> dict:
    """Shared PQ codebook training stage (q191 verifies the training,
    q192 consumes the books for encode+ADC): memoized once per
    (session, sf_dir) like the k-means assignment stage — a production
    deployment trains codebooks once and reuses them for every encode
    and every query batch. Books are plain Python floats (no Spark
    resources pinned); bench clears this cache between the warm and
    timed passes like every other stage cache."""
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _PQ_BOOKS_CACHE:
        from ..functions.pq import pq_train

        _cache_put(
            _PQ_BOOKS_CACHE,
            key,
            pq_train(
                _t(spark, sf_dir, "embeddings"),
                m_sub=4, k_codes=8, iterations=2,
            ),
        )
    return _PQ_BOOKS_CACHE[key]


def clear_stage_caches() -> None:
    """Drop the memoized cross-query stages (pair / cluster / k-means)
    so a timed benchmark pass rebuilds them honestly. The persistent
    IVF/IVFPQ index caches are deliberately KEPT: q140/q229 time
    probe-only by design, with build cost reported separately
    (bench.py). Frames are
    not unpersisted (localCheckpoint blocks are non-recoverable — see
    _cache_put); dropped references age out with the session."""
    _PAIR_CACHE.clear()
    _CLUSTER_CACHE.clear()
    _KMEANS_CACHE.clear()
    _PQ_BOOKS_CACHE.clear()


def ivf_index_cached(spark: SparkSession, sf_dir: str, nlist: int = 16) -> str:
    """Build the persistent IVF index over ``embeddings`` once per
    (session, sf_dir) and return its path. Build-once/probe-many is
    the index's whole point — q140 times the PROBE (what repeats in
    production); bench.py times this build separately. Evicted
    entries are just paths (temp dirs reclaimed by the OS), no Spark
    resources pinned."""
    import tempfile as _tf

    from ..functions.ann_index import build_ivf_index

    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _IVF_INDEX_CACHE:
        idx_dir = _tf.mkdtemp(prefix="ehs_ivf_idx_")
        build_ivf_index(_t(spark, sf_dir, "embeddings"), idx_dir, nlist=nlist)
        _cache_put(_IVF_INDEX_CACHE, key, idx_dir)
    return _IVF_INDEX_CACHE[key]


_IVFPQ_INDEX_CACHE: dict[tuple[str, str], str] = {}


def ivfpq_index_cached(spark: SparkSession, sf_dir: str) -> str:
    """Build the composed IVFPQ index (functions/ivfpq.py) over
    ``embeddings`` once per (session, sf_dir) and return its path —
    the same build-once/probe-many contract as ivf_index_cached.
    Parameters (nlist=16, m_sub=8 subspaces of 8 dims, k_codes=64)
    are sized so the ADC shortlist holds >= 0.8 of exact truth on the
    synthetic corpus — deliberately unclustered embeddings are PQ's
    worst case, so the margin here is conservative for real data."""
    import tempfile as _tf

    from ..functions.ivfpq import build_ivfpq_index

    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _IVFPQ_INDEX_CACHE:
        idx_dir = _tf.mkdtemp(prefix="ehs_ivfpq_idx_")
        build_ivfpq_index(
            _t(spark, sf_dir, "embeddings"),
            idx_dir,
            nlist=16,
            m_sub=8,
            k_codes=64,
            iterations=2,
        )
        _cache_put(_IVFPQ_INDEX_CACHE, key, idx_dir)
    return _IVFPQ_INDEX_CACHE[key]


def _dup_clusters_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-component labels over the cached pair set, themselves
    cached: the survivor query consumes exactly the clusters the
    cluster query produced, so the iterative label propagation runs
    once per (session, sf_dir). The result is tiny ((node, cluster)
    for clustered docs only) — checkpointing it is free."""
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _CLUSTER_CACHE:
        pairs = _jaccard_pairs_cached(spark, sf_dir)
        clusters = duplicate_clusters(pairs, "id_a", "id_b")
        _cache_put(
            _CLUSTER_CACHE, key, clusters.localCheckpoint(eager=False)
        )
    return _CLUSTER_CACHE[key]


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# ======================================================================
# relational core (reference §2.7 capability surface via Spark SQL)
# ======================================================================
@query(
    "q01_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           CAST(round(CAST(avg(l_quantity) AS DECIMAL(30,10)), 4) AS DOUBLE) AS avg_qty,
           CAST(round(CAST(avg(l_extendedprice) AS DECIMAL(30,10)), 2) AS DOUBLE) AS avg_price,
           CAST(round(CAST(avg(l_discount) AS DECIMAL(30,10)), 4) AS DOUBLE) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-06-30 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan + filter (pushed to parquet) + hash agg.
    Partial aggregation map-side; shuffle carries 4 groups only."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("2000-06-30 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            _sround(F.avg("l_quantity"), 4).alias("avg_qty"),
            _sround(F.avg("l_extendedprice"), 2).alias("avg_price"),
            _sround(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "q02_filter_project",
    """
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
    FROM orders
    WHERE o_orderdate BETWEEN TIMESTAMP '1998-01-01' AND TIMESTAMP '1999-12-31'
      AND o_totalprice > 250000
    """,
)
def q02_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selection + projection: both pushed into the parquet scan
    (PushedFilters + pruned ReadSchema — verified in tests)."""
    o = _t(spark, sf_dir, "orders")
    return o.where(
        (F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") <= F.lit("1999-12-31").cast("timestamp_ntz"))
        & (F.col("o_totalprice") > 250000)
    ).select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")


@query(
    "q03_join_revenue",
    """
    SELECT n_name, r_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY n_name, r_name
    """,
)
def q03_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join: fact table joins dimensions; nation/region broadcast
    explicitly (tiny forever), customer/orders left to AQE."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@query(
    "q04_topk_per_group",
    """
    SELECT o_orderpriority, o_orderkey, o_totalprice, rank_n FROM (
        SELECT o_orderpriority, o_orderkey, o_totalprice,
               row_number() OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY o_totalprice DESC, o_orderkey ASC
               ) AS rank_n
        FROM orders
    ) WHERE rank_n <= 3
    """,
)
def q04_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group via window row_number — the scalable top-k
    idiom (no global sort; per-partition heaps then k rows/group)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rank_n", F.row_number().over(w))
        .where(F.col("rank_n") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rank_n")
    )


@query(
    "q05_rollup",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           count(*) AS n_rows
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q05_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (subtotal + grand total rows)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count("*").alias("n_rows"),
    )


@query(
    "q06_semi_join",
    """
    SELECT c_custkey, c_name, c_acctbal
    FROM customer
    WHERE EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey AND o_totalprice > 400000
    )
    """,
)
def q06_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS ≙ left-semi join (never duplicates the left side)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(
        o.where(F.col("o_totalprice") > 400000),
        c.c_custkey == o.o_custkey,
        "left_semi",
    ).select("c_custkey", "c_name", "c_acctbal")


@query(
    "q07_anti_join",
    """
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
    )
    """,
)
def q07_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS ≙ left-anti join (customers with no urgent order)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(
        o.where(F.col("o_orderpriority") == "1-URGENT"),
        c.c_custkey == o.o_custkey,
        "left_anti",
    ).select("c_custkey", "c_name")


@query(
    "q08_set_ops",
    """
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 300000
    """,
)
def q08_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (set-distinct semantics, matching SQL)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    building = c.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    big = o.where(F.col("o_totalprice") > 300000).select(
        F.col("o_custkey").alias("c_custkey")
    )
    return building.subtract(big)


@query(
    "q120_intersect",
    """
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
    INTERSECT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
)
def q120_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.where(F.col("c_mktsegment") == "MACHINERY")
        .select("c_custkey")
        .intersect(
            o.where(F.col("o_orderpriority") == "1-URGENT").select(
                F.col("o_custkey").alias("c_custkey")
            )
        )
    )


@query(
    "q09_running_total",
    """
    SELECT o_custkey, o_orderkey, o_orderdate,
           round(sum(o_totalprice) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ), 2) AS run_total
    FROM orders
    """,
)
def q09_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-customer totals: one shuffle on o_custkey, ordered
    frame aggregation within partitions."""
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.round(F.sum("o_totalprice").over(w), 2).alias("run_total"),
    )


@query(
    "q10_scalar_functions",
    """
    SELECT p_partkey,
           upper(p_brand) AS brand_u,
           substring(p_name, 1, 12) AS name_pfx,
           length(p_name) AS name_len,
           round(p_retailprice * 1.1, 2) AS price_up,
           p_size % 5 AS size_mod,
           concat(p_brand, '#', p_type) AS brand_type
    FROM part
    """,
)
def q10_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string/math function surface, all whole-stage-codegen."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_u"),
        F.substring("p_name", 1, 12).alias("name_pfx"),
        F.length("p_name").alias("name_len"),
        F.round(F.col("p_retailprice") * 1.1, 2).alias("price_up"),
        (F.col("p_size") % 5).alias("size_mod"),
        F.concat_ws("#", "p_brand", "p_type").alias("brand_type"),
    )


@query(
    "q11_pivot",
    """
    SELECT o_orderpriority,
           count(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
           count(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
           count(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q11_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with explicit value list (no extra distinct-values job)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .na.fill(0, ["F", "O", "P"])
    )


@query(
    "q12_having",
    """
    SELECT n_name,
           count(*) AS n_custs,
           count(DISTINCT c_mktsegment) AS n_segments,
           CAST(round(CAST(avg(c_acctbal) AS DECIMAL(30,10)), 2) AS DOUBLE) AS avg_bal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    HAVING count(*) > 50
    """,
)
def q12_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_custs"),
            F.countDistinct("c_mktsegment").alias("n_segments"),
            _sround(F.avg("c_acctbal"), 2).alias("avg_bal"),
        )
        .where(F.col("n_custs") > 50)
    )


@query(
    "q13_subquery",
    """
    SELECT p_partkey, p_name, p_retailprice
    FROM part
    WHERE p_retailprice > (SELECT 1.05 * avg(p_retailprice) FROM part)
    """,
)
def q13_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery ≙ broadcast of a 1-row aggregate."""
    p = _t(spark, sf_dir, "part")
    avg_price = p.agg((1.05 * F.avg("p_retailprice")).alias("thr"))
    return (
        p.crossJoin(F.broadcast(avg_price))
        .where(F.col("p_retailprice") > F.col("thr"))
        .select("p_partkey", "p_name", "p_retailprice")
    )


@query(
    "q14_cube",
    """
    SELECT p_brand, p_size,
           count(*) AS n_parts,
           round(sum(p_retailprice), 2) AS sum_price
    FROM part
    GROUP BY CUBE (p_brand, p_size)
    """,
)
def q14_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    return p.cube("p_brand", "p_size").agg(
        F.count("*").alias("n_parts"),
        F.round(F.sum("p_retailprice"), 2).alias("sum_price"),
    )


@query(
    "q15_json",
    """
    SELECT event_type,
           CAST(round(CAST(avg(CAST(json_extract_string(props, '$.k') AS INT)) AS DECIMAL(30,10)), 4) AS DOUBLE) AS avg_k,
           min(CAST(json_extract_string(props, '$.k') AS INT)) AS min_k,
           max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k,
           count(*) AS n
    FROM events
    GROUP BY event_type
    """,
)
def q15_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: get_json_object stays JVM-side."""
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        e.groupBy("event_type")
        .agg(
            _sround(F.avg(k), 4).alias("avg_k"),
            F.min(k).alias("min_k"),
            F.max(k).alias("max_k"),
            F.count("*").alias("n"),
        )
    )


@query(
    "q16_asof_join",
    """
    SELECT event_id, user_id, ts,
           last_view_ts
    FROM (
        SELECT event_id, user_id, ts, event_type,
               last_value(CASE WHEN event_type = 'view' THEN ts END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS last_view_ts
        FROM events
    ) WHERE event_type = 'purchase'
    """,
)
def q16_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (latest prior 'view' per user before each purchase),
    expressed as an ordered-window last-ignore-nulls — single shuffle
    on user_id, no range-join explosion. (Spark lacks a native as-of;
    SURVEY §2.7 / pyspark guide pattern.)"""
    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        e.withColumn(
            "last_view_ts",
            F.last(
                F.when(F.col("event_type") == "view", F.col("ts")), ignorenulls=True
            ).over(w),
        )
        .where(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts", "last_view_ts")
    )


@query(
    "q17_sessionize",
    """
    WITH gaps AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), ids AS (
        -- CAST: DuckDB integer sum() yields HUGEINT, which the driver's
        -- canonicalizer hashes differently from Spark's BIGINT.
        SELECT user_id, ts,
               CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts) AS BIGINT) AS session_seq
        FROM gaps
    )
    SELECT user_id, session_seq,
           count(*) AS n_events,
           min(ts) AS session_start,
           max(ts) AS session_end
    FROM ids GROUP BY user_id, session_seq
    """,
)
def q17_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return sessionize(e, gap_minutes=30)


@query(
    "q18_hourly_windows",
    """
    SELECT date_trunc('hour', ts) AS hour_start, event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def q18_hourly_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling windows via F.window — identical code runs under
    Structured Streaming (see q35_streaming)."""
    e = _t(spark, sf_dir, "events")
    return hourly_counts(e)


@query(
    "q19_sliding_windows",
    """
    SELECT ws AS win_start, ws + INTERVAL 2 HOUR AS win_end, event_type,
           CAST(round(CAST(sum(value) / count(*) AS DECIMAL(30,10)), 4) AS DOUBLE) AS avg_value
    FROM (
        SELECT unnest([date_trunc('hour', ts), date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS ws,
               event_type, value
        FROM events
    ) GROUP BY ws, event_type
    """,
)
def q19_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return sliding_value_avg(e, "2 hours", "1 hour")


# ======================================================================
# ETL parity slices (extract → transform → load, reference §2.1-2.3)
# ======================================================================
@query("q20_copy_roundtrip", "SELECT * FROM region")
def q20_copy_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """copy_table_rows through a parquet sink and back — exercises the
    reference's C2 copy pipeline (read → write append → read)."""
    from ..connect import connect_files
    from ..operators import copy_table_rows

    src = connect_files(sf_dir, spark=spark)
    dest = connect_files(tempfile.mkdtemp(prefix="ehs_copy_"), spark=spark)
    copy_table_rows("region", src, dest)
    return dest.table_dataframe("region")


@query(
    "q21_chunk_transform",
    """
    SELECT n_nationkey, lower(n_name) AS n_name_lower, n_regionkey,
           length(n_name) AS name_len
    FROM nation WHERE n_regionkey < 3
    """,
)
def q21_chunk_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's Chunk->Chunk Python transform surface
    (types.py:23), executed distributed via mapInPandas — row count
    and shape both change, exactly like reference transforms may."""
    from ..operators.etl import apply_transform

    def transform(chunk):
        return [
            {
                "n_nationkey": r["n_nationkey"],
                "n_name_lower": r["n_name"].lower(),
                "n_regionkey": r["n_regionkey"],
                "name_len": len(r["n_name"]),
            }
            for r in chunk
            if r["n_regionkey"] < 3
        ]

    n = _t(spark, sf_dir, "nation")
    return apply_transform(n, transform)


@query(
    "q22_load_roundtrip",
    """
    SELECT s_nationkey, count(*) AS n_suppliers,
           round(sum(s_acctbal), 2) AS sum_bal
    FROM supplier GROUP BY s_nationkey
    """,
)
def q22_load_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full reference pipeline: iter_rows (driver-streamed extract) →
    load (auto-INSERT write) → aggregate the written table."""
    from ..connect import connect_files
    from ..operators import iter_rows, load

    src = connect_files(sf_dir, spark=spark)
    dest = connect_files(tempfile.mkdtemp(prefix="ehs_load_"), spark=spark)
    rows = iter_rows("SELECT * FROM supplier", src)
    load("supplier_copy", dest, rows)
    df = dest.table_dataframe("supplier_copy")
    return df.groupBy("s_nationkey").agg(
        F.count("*").alias("n_suppliers"),
        F.round(F.sum("s_acctbal"), 2).alias("sum_bal"),
    )


# ======================================================================
# dedup family
# ======================================================================
_DOUBLED_DOCS = """
    WITH all_docs AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000 AS doc_id, text FROM documents
    )
"""


@query(
    "q23_dedup_exact",
    _DOUBLED_DOCS
    + """
    SELECT min(doc_id) AS doc_id,
           md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
    FROM all_docs
    GROUP BY fingerprint
    """,
)
def q23_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over a corpus with planted duplicates (the table
    unioned with itself under shifted ids): survivors are the originals."""
    from ..functions.text import document_fingerprint

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    doubled = d.unionAll(
        d.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    )
    survivors = dedup_exact(doubled, "text", "doc_id")
    return survivors.select(
        "doc_id", document_fingerprint(F.col("text")).alias("fingerprint")
    )


@query(
    "q24_text_stats",
    """
    SELECT doc_id,
           length(text) AS n_chars,
           len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
           round(length(regexp_replace(text, '\\s+', '', 'g'))
                 / greatest(len(regexp_split_to_array(trim(text), '\\s+')), 1), 4) AS avg_token_len,
           round(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
                 / greatest(length(text), 1), 4) AS punct_ratio,
           round(least(len(regexp_split_to_array(trim(text), '\\s+')) / 50.0, 1.0)
                 * (1.0 - length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
                    / greatest(length(text), 1)), 4) AS quality,
           md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint,
           CASE
             WHEN greatest(s_en, s_fr, s_de, s_es) <= 0 THEN 'und'
             WHEN s_en = greatest(s_en, s_fr, s_de, s_es) THEN 'en'
             WHEN s_fr = greatest(s_en, s_fr, s_de, s_es) THEN 'fr'
             WHEN s_de = greatest(s_en, s_fr, s_de, s_es) THEN 'de'
             WHEN s_es = greatest(s_en, s_fr, s_de, s_es) THEN 'es'
           END AS lang_guess
    FROM (
        SELECT *,
           CAST((length(p) - length(replace(p, ' the ', ''))) / 5
              + (length(p) - length(replace(p, ' and ', ''))) / 5
              + (length(p) - length(replace(p, ' of ', ''))) / 4 AS INT) AS s_en,
           CAST((length(p) - length(replace(p, ' le ', ''))) / 4
              + (length(p) - length(replace(p, ' la ', ''))) / 4
              + (length(p) - length(replace(p, ' et ', ''))) / 4 AS INT) AS s_fr,
           CAST((length(p) - length(replace(p, ' der ', ''))) / 5
              + (length(p) - length(replace(p, ' und ', ''))) / 5
              + (length(p) - length(replace(p, ' die ', ''))) / 5 AS INT) AS s_de,
           CAST((length(p) - length(replace(p, ' el ', ''))) / 4
              + (length(p) - length(replace(p, ' los ', ''))) / 5
              + (length(p) - length(replace(p, ' y ', ''))) / 3 AS INT) AS s_es
        FROM (SELECT *, concat(' ', lower(text), ' ') AS p FROM documents)
    )
    """,
)
def q24_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return text_stats(d)


@query(
    "q25_top_tokens",
    """
    SELECT token, count(*) AS cnt FROM (
        SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
        FROM documents
    ) WHERE token <> ''
    GROUP BY token ORDER BY cnt DESC, token ASC LIMIT 20
    """,
)
def q25_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return top_tokens(d, "text", 20)


@query(
    "q26_lang_counts",
    """
    SELECT lang, lang_guess, count(*) AS n FROM (
        SELECT lang,
           CASE
             WHEN greatest(s_en, s_fr, s_de, s_es) <= 0 THEN 'und'
             WHEN s_en = greatest(s_en, s_fr, s_de, s_es) THEN 'en'
             WHEN s_fr = greatest(s_en, s_fr, s_de, s_es) THEN 'fr'
             WHEN s_de = greatest(s_en, s_fr, s_de, s_es) THEN 'de'
             WHEN s_es = greatest(s_en, s_fr, s_de, s_es) THEN 'es'
           END AS lang_guess
        FROM (
            SELECT lang,
               CAST((length(p) - length(replace(p, ' the ', ''))) / 5
                  + (length(p) - length(replace(p, ' and ', ''))) / 5
                  + (length(p) - length(replace(p, ' of ', ''))) / 4 AS INT) AS s_en,
               CAST((length(p) - length(replace(p, ' le ', ''))) / 4
                  + (length(p) - length(replace(p, ' la ', ''))) / 4
                  + (length(p) - length(replace(p, ' et ', ''))) / 4 AS INT) AS s_fr,
               CAST((length(p) - length(replace(p, ' der ', ''))) / 5
                  + (length(p) - length(replace(p, ' und ', ''))) / 5
                  + (length(p) - length(replace(p, ' die ', ''))) / 5 AS INT) AS s_de,
               CAST((length(p) - length(replace(p, ' el ', ''))) / 4
                  + (length(p) - length(replace(p, ' los ', ''))) / 5
                  + (length(p) - length(replace(p, ' y ', ''))) / 3 AS INT) AS s_es
            FROM (SELECT lang, concat(' ', lower(text), ' ') AS p FROM documents)
        )
    ) GROUP BY lang, lang_guess
    """,
)
def q26_lang_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import language_id

    d = _t(spark, sf_dir, "documents")
    return (
        d.select("lang", language_id(F.col("text")).alias("lang_guess"))
        .groupBy("lang", "lang_guess")
        .agg(F.count("*").alias("n"))
    )


@query(
    "q27_simhash",
    """
    WITH tokens AS (
        SELECT doc_id AS id,
               unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
        FROM documents
    ), hashed AS (
        SELECT id, CAST(concat('0x', substr(md5(token), 1, 8)) AS BIGINT) AS th
        FROM tokens WHERE token <> ''
    ), votes AS (
        SELECT id, bit,
               sum(CASE WHEN (th >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
        FROM hashed, (SELECT unnest(range(0, 32)) AS bit)
        GROUP BY id, bit
    )
    SELECT id, CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
    FROM votes GROUP BY id
    """,
)
def q27_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return simhash(d, "doc_id", "text", bits=32)


_MINHASH_SQL = """
    WITH toks AS (
        SELECT doc_id AS id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
        FROM documents
    ), sh AS (
        SELECT DISTINCT id, shingle FROM (
            SELECT id, array_to_string(t[i:i+2], ' ') AS shingle
            FROM (SELECT id, t, unnest(range(1, len(t)-1)) AS i FROM toks)
        ) WHERE shingle <> ''
    ), sigs AS (
        -- h0 = md5(shingle) once; seeded hashes derive arithmetically
        -- (must mirror etlhelper_spark.functions.dedup.minhash_signatures)
        SELECT id, seed,
               min((((2654435761 * (seed+1)) % 2147483647)
                      * (CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT) % 2147483647)
                    + (40503 * (seed*seed+1)) % 2147483647) % 2147483647) AS minhash
        FROM sh, (SELECT unnest(range(0, 16)) AS seed)
        GROUP BY id, seed
    )
"""


@query(
    "q28_minhash_signatures",
    _MINHASH_SQL + "SELECT id, seed, minhash FROM sigs",
)
def q28_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return minhash_signatures(d, "doc_id", "text", num_hashes=16, shingle_size=3)


@query(
    "q29_minhash_lsh",
    _MINHASH_SQL
    + """
    , bands AS (
        -- seed // 4: DuckDB CAST(x AS INT) rounds-to-nearest, so use
        -- floor division to match Spark's truncating int cast
        SELECT id, seed // 4 AS band,
               md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY seed)) AS band_key
        FROM sigs GROUP BY id, seed // 4
    )
    SELECT DISTINCT a.id AS id_a, b.id AS id_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_key = b.band_key AND a.id < b.id
    """,
)
def q29_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-duplicate candidates: 16 hashes, 4 bands of 4.
    The all-pairs comparison becomes an equi-join on band buckets."""
    d = _t(spark, sf_dir, "documents")
    return minhash_lsh_candidates(
        d, "doc_id", "text", num_hashes=16, bands=4, shingle_size=3
    )


@query(
    "q30_ngram_jaccard",
    """
    WITH toks AS (
        SELECT doc_id AS id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
        FROM documents
    ), sh AS (
        SELECT DISTINCT id, shingle FROM (
            SELECT id, array_to_string(t[i:i+2], ' ') AS shingle
            FROM (SELECT id, t, unnest(range(1, len(t)-1)) AS i FROM toks)
        ) WHERE shingle <> ''
    ), sizes AS (
        SELECT id, count(*) AS n_shingles FROM sh GROUP BY id
    ), shared AS (
        SELECT a.id AS id_a, b.id AS id_b, count(*) AS shared
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY a.id, b.id
    )
    SELECT id_a, id_b,
           round(shared / (sa.n_shingles + sb.n_shingles - shared), 4) AS jaccard
    FROM shared
    JOIN sizes sa ON id_a = sa.id
    JOIN sizes sb ON id_b = sb.id
    WHERE round(shared / (sa.n_shingles + sb.n_shingles - shared), 4) >= 0.5
    """,
)
def q30_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (trigram shingles,
    threshold 0.5 — the planted near-duplicates score ≥0.9).
    Spark side uses PPJoin prefix filtering; the oracle verifies the
    result with the naive inverted-index formulation."""
    d = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(d, "doc_id", "text", shingle_size=3, threshold=0.5)


# ======================================================================
# similarity search / embeddings
# ======================================================================
@query(
    "q31_knn_bruteforce",
    """
    SELECT query_id, neighbor_id, rank, sim FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                            c.vec_id ASC
               ) AS rank,
               round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 4) AS sim
        FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        WHERE q.vec_id < 10
    ) WHERE rank <= 5
    """,
)
def q31_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ANN baseline: brute-force cosine top-5 for 10 query
    vectors; query side broadcast, corpus never shuffles."""
    e = _t(spark, sf_dir, "embeddings")
    return brute_force_topk(
        e.where(F.col("vec_id") < 10), e, k=5
    )


@query(
    "q32_embedding_neardup",
    """
    WITH all_vecs AS (
        SELECT vec_id, embedding FROM embeddings
        UNION ALL
        SELECT vec_id + 10000 AS vec_id, embedding FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cosine
    FROM all_vecs a JOIN all_vecs b ON a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) >= 0.95
    """,
)
def q32_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup detection over a corpus with planted
    exact duplicates (self-union under shifted ids). The declared path
    is LSH-bucketed candidate generation + exact cosine verify (no
    all-pairs join anywhere in the plan — see
    test_embedding_near_duplicates_lsh_matches_brute for the
    no-nested-loop plan assertion); the brute-force variant survives
    only as the pytest oracle and as the library's exactness-first
    default. Parameters are explicit: num_planes pinned so no sizing
    count() job runs in the declared plan, num_tables doubled to 16 so
    a genuine (non-identical) cosine-0.95 pair is missed w.p. ≈0.006
    instead of ≈0.07 — the replica run (scripts/check_correctness.py,
    first thing each round) cross-checks LSH against the exact oracle
    on the round's actual testdata."""
    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    doubled = e.unionAll(
        e.select((F.col("vec_id") + 10000).alias("vec_id"), "embedding")
    )
    return embedding_near_duplicates(
        doubled,
        "vec_id",
        "embedding",
        0.95,
        method="lsh",
        num_planes=12,
        num_tables=16,
    )


@query(
    "q33_lsh_topk",
    """
    WITH bf AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(
                       q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                       c.vec_id ASC
               ) AS rank,
               round(list_cosine_similarity(
                   q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 4) AS sim
        FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        WHERE q.vec_id >= 10 AND q.vec_id < 25
    )
    SELECT count(DISTINCT query_id) AS n_queries,
           CAST(count(*) FILTER (rank <= 5) AS BIGINT) AS n_truth,
           CAST(round(CAST(avg(sim) FILTER (rank = 1)
                AS DECIMAL(30,10)), 4) AS DOUBLE) AS avg_top1_sim,
           true AS recall_ok
    FROM bf
    """,
)
def q33_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucketed ANN — the 100 TB scale path —
    with its quality gate computed in the same plan (the q08b/ann_recall
    pattern): the exact brute-force kernel on a bounded query sample is
    hash-verified against the DuckDB oracle, while recall_ok pins the
    approximate path to ≥80% recall@5 (measured 0.92 at sf0.01 with 12
    hash tables × 3 planes; hyperplanes are md5-seeded so the number is
    deterministic). At scale only the LSH side runs over the full
    corpus — buckets are the shuffle keys, never all pairs."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.where((F.col("vec_id") >= 10) & (F.col("vec_id") < 25))
    bf = brute_force_topk(q, e, k=5)
    lsh = lsh_bucket_topk(
        q, e, k=5, num_planes=3, num_tables=12, dim=64
    ).select("query_id", "neighbor_id")
    return _recall_gate(bf, lsh)


# ======================================================================
# multimodal + streaming
# ======================================================================
@query(
    "q34_multimodal_features",
    """
    SELECT doc_id AS asset_id,
           'text' AS media_type,
           sha256(text) AS content_sha,
           octet_length(encode(text)) AS n_bytes
    FROM documents
    """,
)
def q34_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column pipeline: documents adapted to the media schema,
    features extracted per Arrow batch via mapInPandas (decode stubbed
    — real decoder libs aren't in this container; plumbing is real)."""
    d = _t(spark, sf_dir, "documents")
    media = documents_as_media(d)
    feats = extract_features(media, decode_stub=True)
    return feats.select("asset_id", "media_type", "content_sha", "n_bytes")


@query(
    "q35_streaming_hourly",
    """
    SELECT date_trunc('hour', ts) AS hour_start, event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def q35_streaming_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Genuine Structured Streaming run (readStream → watermark →
    windowed agg → availableNow drain); result must equal the batch
    oracle — the streaming/batch unification contract."""
    from ..streaming.windows import streaming_hourly_counts

    configure_session(spark)
    ckpt = tempfile.mkdtemp(prefix="ehs_ckpt_")
    return streaming_hourly_counts(spark, sf_dir, ckpt)


# ======================================================================
# second-wave relational coverage
# ======================================================================
@query(
    "q36_grouping_sets",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_extendedprice), 2) AS sum_price,
           count(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def q36_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via the SQL surface (Spark SQL parses and
    plans it as an expand + single shuffle)."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("__gs_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_extendedprice), 2) AS sum_price,
               count(*) AS n
        FROM __gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@query(
    "q84_except_all",
    """
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    EXCEPT ALL
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def q84_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics EXCEPT ALL (multiplicity-aware anti difference)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.where(F.col("o_orderstatus") == "O")
        .select("o_custkey")
        .exceptAll(o.where(F.col("o_orderstatus") == "F").select("o_custkey"))
    )


@query(
    "q38_percentiles",
    """
    SELECT o_orderpriority,
           round(quantile_cont(o_totalprice, 0.5), 2) AS median_price,
           round(quantile_cont(o_totalprice, 0.9), 2) AS p90_price,
           count(*) AS n
    FROM orders GROUP BY o_orderpriority
    """,
)
def q38_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact continuous percentiles (Spark `percentile` ≙ DuckDB
    quantile_cont, both linear-interpolating). At 100 TB swap for
    percentile_approx — same API shape, bounded memory."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 2).alias("median_price"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 2).alias("p90_price"),
        F.count("*").alias("n"),
    )


@query(
    "q39_regex",
    """
    SELECT regexp_extract(p_name, '^([a-z]+)', 1) AS first_word,
           count(*) AS n,
           round(sum(p_retailprice), 2) AS sum_price
    FROM part
    GROUP BY first_word
    """,
)
def q39_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    return (
        p.groupBy(
            F.regexp_extract("p_name", r"^([a-z]+)", 1).alias("first_word")
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("p_retailprice"), 2).alias("sum_price"),
        )
    )


@query(
    "q88_date_arithmetic",
    """
    SELECT o_orderkey,
           year(o_orderdate) AS yr,
           month(o_orderdate) AS mo,
           day(o_orderdate) AS dom,
           date_diff('day', o_orderdate, TIMESTAMP '2002-01-01') AS days_to_2002
    FROM orders WHERE o_orderkey <= 1000
    """,
)
def q88_date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.where(F.col("o_orderkey") <= 1000).select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("dom"),
        F.datediff(
            F.lit("2002-01-01").cast("timestamp_ntz"), F.col("o_orderdate")
        ).alias("days_to_2002"),
    )


@query(
    "q41_exists_agg",
    """
    SELECT o_orderpriority, count(*) AS late_orders
    FROM orders
    WHERE EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
    )
    GROUP BY o_orderpriority
    """,
)
def q41_exists_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS ≙ semi join, then aggregate."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    late = o.join(
        li,
        (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count("*").alias("late_orders")
    )


@query(
    "q42_pandas_udf",
    """
    SELECT price_bucket, count(*) AS n,
           round(sum(o_totalprice), 2) AS sum_price
    FROM (
        SELECT o_totalprice,
               CASE WHEN o_totalprice < 100000 THEN 'low'
                    WHEN o_totalprice < 300000 THEN 'mid'
                    ELSE 'high' END AS price_bucket
        FROM orders
    ) GROUP BY price_bucket
    """,
)
def q42_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized Arrow-batched pandas UDF (the sanctioned Python hot
    path — never row-at-a-time) bucketing prices, then a JVM-side agg."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # no type hints: PEP 563 (future annotations) stringifies them and
    # pandas_udf can't resolve 'pd.Series'; returnType is explicit
    @pandas_udf("string")
    def bucket(price):
        return pd.cut(
            price,
            bins=[float("-inf"), 100000, 300000, float("inf")],
            labels=["low", "mid", "high"],
            right=False,
        ).astype(str)

    o = _t(spark, sf_dir, "orders")
    return (
        o.withColumn("price_bucket", bucket("o_totalprice"))
        .groupBy("price_bucket")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
    )


@query(
    "q81_union_by_name",
    """
    SELECT c_custkey, nm AS name FROM (
        SELECT c_custkey, c_name AS nm FROM customer WHERE c_mktsegment = 'BUILDING'
        UNION
        SELECT c_custkey, c_name AS nm FROM customer WHERE c_acctbal > 9000
    )
    """,
)
def q81_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unionByName: schema-aligned union regardless of column order,
    then set-distinct."""
    c = _t(spark, sf_dir, "customer")
    a = c.where(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_name").alias("name"), "c_custkey"
    )
    b = c.where(F.col("c_acctbal") > 9000).select(
        "c_custkey", F.col("c_name").alias("name")
    )
    return a.unionByName(b).distinct().select("c_custkey", "name")


@query(
    "q86_range_window",
    """
    SELECT o_orderkey, o_custkey,
           round(sum(o_totalprice) OVER (
               PARTITION BY o_custkey
               ORDER BY epoch(o_orderdate) // 86400
               RANGE BETWEEN 30 PRECEDING AND CURRENT ROW
           ), 2) AS sum_30d
    FROM orders
    """,
)
def q86_range_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over event-time (trailing 30-day revenue per
    customer) — value-based window frames, ordered by epoch days."""
    o = _t(spark, sf_dir, "orders")
    days = (F.unix_timestamp(F.col("o_orderdate").cast("timestamp")) / 86400).cast(
        "long"
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(days)
        .rangeBetween(-30, Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("sum_30d"),
    )


@query(
    "q45_arg_max",
    """
    SELECT o_orderpriority,
           arg_max(o_orderkey, o_totalprice) AS top_orderkey,
           round(max(o_totalprice), 2) AS top_price
    FROM orders GROUP BY o_orderpriority
    """,
)
def q45_arg_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by / arg_max: the key of the extreme row without a window."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.max_by("o_orderkey", "o_totalprice").alias("top_orderkey"),
        F.round(F.max("o_totalprice"), 2).alias("top_price"),
    )


@query(
    "q114_conditional_agg",
    """
    SELECT n_name,
           count(*) FILTER (WHERE c_acctbal > 5000) AS rich,
           count(*) FILTER (WHERE c_acctbal < 0) AS debtors,
           count(*) AS total
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def q114_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count_if(F.col("c_acctbal") > 5000).alias("rich"),
            F.count_if(F.col("c_acctbal") < 0).alias("debtors"),
            F.count("*").alias("total"),
        )
    )


@query(
    "q47_array_ops",
    """
    SELECT vec_id,
           len(embedding) AS dim,
           round(list_aggregate(embedding::DOUBLE[], 'sum'), 4) AS comp_sum,
           round(list_min(embedding::DOUBLE[]), 4) AS comp_min,
           round(list_max(embedding::DOUBLE[]), 4) AS comp_max
    FROM embeddings WHERE vec_id < 100
    """,
)
def q47_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array column kernels: aggregate/min/max over array<float> —
    all JVM-side higher-order functions."""
    e = _t(spark, sf_dir, "embeddings")
    vec = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return e.where(F.col("vec_id") < 100).select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(
            F.aggregate(vec, F.lit(0.0), lambda acc, x: acc + x), 4
        ).alias("comp_sum"),
        F.round(F.array_min(vec), 4).alias("comp_min"),
        F.round(F.array_max(vec), 4).alias("comp_max"),
    )


@query(
    "q109_string_agg",
    """
    SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def q109_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation: collect_list + array_sort +
    array_join (deterministic regardless of partition order)."""
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias(
                "nations"
            )
        )
    )


@query(
    "q49_stateful_stream",
    """
    SELECT user_id,
           round(sum(value), 2) AS total_value,
           count(*) AS n_events
    FROM events GROUP BY user_id
    """,
)
def q49_stateful_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    per-user running totals maintained in the state store; final state
    must equal the batch aggregate."""
    from ..streaming.stateful import running_user_totals

    configure_session(spark)
    ckpt = tempfile.mkdtemp(prefix="ehs_state_")
    return running_user_totals(spark, sf_dir, ckpt)


@query(
    "q50_udtf_chunks",
    """
    SELECT doc_id,
           array_to_string(t[i:i+9], ' ') AS chunk,
           (i - 1) // 10 AS chunk_no
    FROM (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
        FROM documents
    ), unnest(range(1, len(t) + 1, 10)) AS r(i)
    """,
)
def q50_udtf_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (table function): split each document into 10-token
    chunks — the document-chunking primitive of an LLM data pipeline.
    One input row fans out to N output rows, computed per-partition."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, chunk string, chunk_no int")
    class ChunkDoc:
        def eval(self, doc_id, text):
            tokens = text.strip().split()
            for n, start in enumerate(range(0, len(tokens), 10)):
                yield doc_id, " ".join(tokens[start : start + 10]), n

    d = _t(spark, sf_dir, "documents")
    d.select("doc_id", "text").createOrReplaceTempView("__udtf_docs")
    spark.udtf.register("chunk_doc", ChunkDoc)
    return spark.sql(
        "SELECT c.doc_id, c.chunk, c.chunk_no "
        "FROM __udtf_docs, LATERAL chunk_doc(doc_id, text) c"
    )


@query(
    "q51_grouped_map_udaf",
    """
    SELECT c_nationkey,
           round(exp(avg(ln(c_acctbal + 10000))), 2) AS geo_mean_shifted,
           count(*) AS n
    FROM customer GROUP BY c_nationkey
    """,
)
def q51_grouped_map_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom UDAF via grouped-map applyInPandas: per-nation geometric
    mean of shifted account balances (not expressible as a single
    built-in aggregate). One Arrow batch per group."""
    import numpy as np
    import pandas as pd

    def geo_mean(pdf):
        vals = np.log(pdf["c_acctbal"].to_numpy() + 10000.0)
        return pd.DataFrame(
            {
                "c_nationkey": [int(pdf["c_nationkey"].iloc[0])],
                "geo_mean_shifted": [round(float(np.exp(vals.mean())), 2)],
                "n": [len(pdf)],
            }
        )

    c = _t(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").applyInPandas(
        geo_mean, "c_nationkey int, geo_mean_shifted double, n long"
    )


# ======================================================================
# TPC-H classics adapted to the testdata schema
# ======================================================================
@query(
    "q52_tpch_q6",
    """
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
           count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.04 AND 0.06
      AND l_quantity < 24
    """,
)
def q52_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecast revenue change): pure scan+filter+agg; every
    predicate pushes to the parquet scan, no shuffle beyond the final
    1-row combine."""
    li = _t(spark, sf_dir, "lineitem")
    return li.where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
        & (F.col("l_discount") >= 0.04)
        & (F.col("l_discount") <= 0.06)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "revenue"
        ),
        F.count("*").alias("n_items"),
    )


@query(
    "q53_tpch_q3",
    """
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           o_orderdate
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1999-01-01'
      AND l_shipdate > TIMESTAMP '1999-01-01'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q53_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority): selective dimension filter, fact
    join, top-10 by aggregated revenue (global top-k after agg — tiny)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cutoff = F.lit("1999-01-01").cast("timestamp_ntz")
    return (
        c.where(F.col("c_mktsegment") == "BUILDING")
        .join(o.where(F.col("o_orderdate") < cutoff), c.c_custkey == o.o_custkey)
        .join(li.where(F.col("l_shipdate") > cutoff), o.o_orderkey == li.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate")
    )


@query(
    "q54_tpch_q10",
    """
    SELECT c_custkey, c_name, n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q54_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned-item reporting)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    n = _t(spark, sf_dir, "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li.where(F.col("l_returnflag") == "R"), o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", "n_name", "revenue")
    )


@query(
    "q55_tpch_q14",
    """
    SELECT CAST(round(CAST(
               100.0 * sum(CASE WHEN p_type = 'PROMO'
                                THEN l_extendedprice * (1 - l_discount)
                                ELSE 0 END)
               / sum(l_extendedprice * (1 - l_discount))
           AS DECIMAL(30,10)), 4) AS DOUBLE) AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1998-01-01'
      AND l_shipdate < TIMESTAMP '1998-07-01'
    """,
)
def q55_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): conditional revenue share."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", disc_price).otherwise(0.0)
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1998-07-01").cast("timestamp_ntz"))
        )
        .join(p, li.l_partkey == p.p_partkey)
        .agg(
            _sround(
                F.lit(100.0) * F.sum(promo) / F.sum(disc_price), 4
            ).alias("promo_revenue_pct")
        )
    )


@query(
    "q56_scd2_history",
    """
    SELECT user_id, event_type,
           ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
    FROM events
    """,
)
def q56_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2/CDC emulation: change stream -> validity intervals
    (valid_from/valid_to, NULL = current version)."""
    from ..streaming.windows import scd2_history

    e = _t(spark, sf_dir, "events")
    return scd2_history(e)


@query(
    "q57_ivf_topk",
    """
    WITH bf AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(
                       q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                       c.vec_id ASC
               ) AS rank,
               round(list_cosine_similarity(
                   q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 4) AS sim
        FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        WHERE q.vec_id % 20 = 0
    )
    SELECT count(DISTINCT query_id) AS n_queries,
           CAST(count(*) FILTER (rank <= 5) AS BIGINT) AS n_truth,
           CAST(round(CAST(avg(sim) FILTER (rank = 1)
                AS DECIMAL(30,10)), 4) AS DOUBLE) AS avg_top1_sim,
           true AS recall_ok
    FROM bf
    """,
)
def q57_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate ANN (pivot-partitioned inverted lists, nprobe
    nearest lists scanned per query) with its quality gate in the same
    plan: the exact kernel on a 25-query sample is hash-verified
    against the oracle, recall_ok pins IVF recall@5 ≥ 80% (measured
    0.90 at sf0.01 with nlist=16 nprobe=12 on a different query slice
    than q08b — pivots are deterministic, so the recall is too)."""
    from ..functions.similarity import ivf_topk

    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") % 20 == 0)
    bf = brute_force_topk(q, e, k=5)
    ivf = ivf_topk(q, e, k=5, nlist=16, nprobe=12).select(
        "query_id", "neighbor_id"
    )
    return _recall_gate(bf, ivf)


@query(
    "q58_unpivot",
    """
    SELECT o_orderpriority, status, cnt FROM (
        SELECT o_orderpriority,
               count(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
               count(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
               count(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
        FROM orders GROUP BY o_orderpriority
    ) UNPIVOT (cnt FOR status IN ("F", "O", "P"))
    """,
)
def q58_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot then unpivot (melt) back to long form."""
    wide = q11_pivot(spark, sf_dir)
    return wide.unpivot(
        ["o_orderpriority"], ["F", "O", "P"], "status", "cnt"
    )


@query(
    "q59_window_battery",
    """
    SELECT o_orderkey, o_custkey,
           lag(o_totalprice) OVER w AS prev_price,
           lead(o_totalprice) OVER w AS next_price,
           rank() OVER w2 AS rnk,
           dense_rank() OVER w2 AS drnk,
           ntile(4) OVER w AS quartile,
           CAST(round(CAST(percent_rank() OVER w2 AS DECIMAL(30,10)), 6) AS DOUBLE) AS pct_rank,
           CAST(round(CAST(cume_dist() OVER w2 AS DECIMAL(30,10)), 6) AS DOUBLE) AS cdist,
           first_value(o_orderkey) OVER w AS first_key,
           nth_value(o_orderkey, 2) OVER w AS second_key
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
           w2 AS (PARTITION BY o_custkey ORDER BY o_totalprice)
    """,
)
def q59_window_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full analytic-window battery in one pass: two window specs
    over one shuffle each."""
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    w_ord = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w2 = Window.partitionBy("o_custkey").orderBy("o_totalprice")
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.lag("o_totalprice").over(w_ord).alias("prev_price"),
        F.lead("o_totalprice").over(w_ord).alias("next_price"),
        F.rank().over(w2).alias("rnk"),
        F.dense_rank().over(w2).alias("drnk"),
        F.ntile(4).over(w_ord).alias("quartile"),
        _sround(F.percent_rank().over(w2), 6).alias("pct_rank"),
        _sround(F.cume_dist().over(w2), 6).alias("cdist"),
        F.first("o_orderkey").over(w).alias("first_key"),
        F.nth_value("o_orderkey", 2).over(w).alias("second_key"),
    )


@query(
    "q60_string_functions",
    """
    SELECT s_suppkey,
           lpad(s_name, 20, '.') AS padded,
           replace(s_name, 'SUPP', 'S#') AS replaced,
           reverse(s_name) AS rev,
           left(s_name, 4) AS l4,
           right(s_name, 3) AS r3,
           repeat('ab', 3) AS rep,
           strpos(s_name, '_') AS upos,
           ascii(s_name) AS first_ascii,
           trim(concat('  ', s_name, '  ')) AS trimmed
    FROM supplier
    """,
)
def q60_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _t(spark, sf_dir, "supplier")
    return s.select(
        "s_suppkey",
        F.lpad("s_name", 20, ".").alias("padded"),
        F.replace(F.col("s_name"), F.lit("SUPP"), F.lit("S#")).alias("replaced"),
        F.reverse("s_name").alias("rev"),
        F.left(F.col("s_name"), F.lit(4)).alias("l4"),
        F.right(F.col("s_name"), F.lit(3)).alias("r3"),
        F.repeat(F.lit("ab"), 3).alias("rep"),
        F.instr("s_name", "_").alias("upos"),
        F.ascii("s_name").alias("first_ascii"),
        F.trim(F.concat(F.lit("  "), F.col("s_name"), F.lit("  "))).alias(
            "trimmed"
        ),
    )


@query(
    "q61_null_semantics",
    """
    SELECT e1.event_id,
           coalesce(v1, v2, -1.0) AS first_non_null,
           nullif(e1.event_type, 'error') AS type_or_null,
           (v1 IS NOT DISTINCT FROM v2) AS null_safe_eq,
           CASE WHEN v1 IS NULL THEN 'missing' ELSE 'present' END AS presence
    FROM (
        SELECT event_id, event_type,
               CASE WHEN value > 50 THEN value END AS v1,
               CASE WHEN value <= 50 THEN value END AS v2
        FROM events
    ) e1
    """,
)
def q61_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null algebra: coalesce, nullif, null-safe equality (<=>)."""
    e = _t(spark, sf_dir, "events")
    v1 = F.when(F.col("value") > 50, F.col("value"))
    v2 = F.when(F.col("value") <= 50, F.col("value"))
    base = e.select(
        "event_id", "event_type", v1.alias("v1"), v2.alias("v2")
    )
    return base.select(
        "event_id",
        F.coalesce("v1", "v2", F.lit(-1.0)).alias("first_non_null"),
        F.nullif(F.col("event_type"), F.lit("error")).alias("type_or_null"),
        F.col("v1").eqNullSafe(F.col("v2")).alias("null_safe_eq"),
        F.when(F.col("v1").isNull(), "missing")
        .otherwise("present")
        .alias("presence"),
    )


@query(
    "q62_numeric_functions",
    """
    SELECT l_orderkey, l_linenumber,
           abs(l_discount - 0.05) AS dev,
           ceil(l_quantity / 7) AS q_ceil,
           floor(l_quantity / 7) AS q_floor,
           round(sqrt(l_extendedprice), 4) AS price_sqrt,
           round(ln(l_extendedprice + 1), 6) AS price_ln,
           round(log10(l_extendedprice + 1), 6) AS price_log10,
           round(pow(l_tax + 1, 2), 6) AS tax_sq,
           sign(l_discount - 0.05) AS disc_sign,
           CAST(l_quantity AS BIGINT) % 7 AS q_mod,
           greatest(l_tax, l_discount) AS gmax,
           least(l_tax, l_discount) AS lmin
    FROM lineitem WHERE l_orderkey <= 200
    """,
)
def q62_numeric_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    q7 = F.col("l_quantity") / 7
    return li.where(F.col("l_orderkey") <= 200).select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_discount") - 0.05).alias("dev"),
        F.ceil(q7).alias("q_ceil"),
        F.floor(q7).alias("q_floor"),
        F.round(F.sqrt("l_extendedprice"), 4).alias("price_sqrt"),
        F.round(F.log(F.col("l_extendedprice") + 1), 6).alias("price_ln"),
        F.round(F.log10(F.col("l_extendedprice") + 1), 6).alias("price_log10"),
        F.round(F.pow(F.col("l_tax") + 1, 2), 6).alias("tax_sq"),
        F.signum(F.col("l_discount") - 0.05).alias("disc_sign"),
        (F.col("l_quantity").cast("bigint") % 7).alias("q_mod"),
        F.greatest("l_tax", "l_discount").alias("gmax"),
        F.least("l_tax", "l_discount").alias("lmin"),
    )


@query(
    "q63_dataprep_pipeline",
    """
    WITH stats AS (
        SELECT doc_id, text, lang,
               len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
               md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
        FROM documents
    ), filtered AS (
        SELECT * FROM stats WHERE n_tokens >= 10 AND lang IN ('en', 'de', 'fr', 'es')
    ), deduped AS (
        SELECT min(doc_id) AS doc_id, fingerprint,
               min(n_tokens) AS n_tokens
        FROM filtered GROUP BY fingerprint
    )
    SELECT doc_id, fingerprint, n_tokens FROM deduped
    """,
)
def q63_dataprep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data prep: stats → quality/language filter →
    exact dedup → clean corpus. The composition stays one lazy plan —
    Catalyst fuses the stages, filters run before the dedup shuffle."""
    from ..functions.text import document_fingerprint, token_count

    d = _t(spark, sf_dir, "documents")
    stats = d.select(
        "doc_id",
        "text",
        "lang",
        token_count(F.col("text")).alias("n_tokens"),
        document_fingerprint(F.col("text")).alias("fingerprint"),
    )
    filtered = stats.where(
        (F.col("n_tokens") >= 10)
        & F.col("lang").isin("en", "de", "fr", "es")
    )
    return filtered.groupBy("fingerprint").agg(
        F.min("doc_id").alias("doc_id"),
        F.min("n_tokens").alias("n_tokens"),
    ).select("doc_id", "fingerprint", "n_tokens")


@query(
    "q64_token_histogram",
    """
    SELECT least(n_tokens // 5, 20) AS bucket,
           count(*) AS n_docs,
           min(n_tokens) AS min_tokens,
           max(n_tokens) AS max_tokens
    FROM (
        SELECT len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
        FROM documents
    ) GROUP BY bucket
    """,
)
def q64_token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus length histogram: fixed-width buckets, capped tail."""
    from ..functions.text import token_count

    d = _t(spark, sf_dir, "documents")
    n = token_count(F.col("text"))
    return (
        d.select(
            F.least(F.floor(n / 5).cast("long"), F.lit(20).cast("long")).alias(
                "bucket"
            ),
            n.alias("n_tokens"),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
        )
    )


@query(
    "q65_funnel",
    """
    WITH per_user AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
               min(CASE WHEN event_type = 'click' THEN ts END) AS first_click,
               min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
        FROM events GROUP BY user_id
    )
    SELECT count(*) AS n_users,
           count(*) FILTER (WHERE first_view IS NOT NULL) AS viewed,
           count(*) FILTER (WHERE first_view IS NOT NULL
                              AND first_click > first_view) AS then_clicked,
           count(*) FILTER (WHERE first_view IS NOT NULL
                              AND first_click > first_view
                              AND first_purchase > first_click) AS then_purchased
    FROM per_user
    """,
)
def q65_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis (view → click → purchase in sequence):
    conditional-min collapse per user, then one count pass."""
    e = _t(spark, sf_dir, "events")
    first = lambda t: F.min(F.when(F.col("event_type") == t, F.col("ts")))
    per_user = e.groupBy("user_id").agg(
        first("view").alias("first_view"),
        first("click").alias("first_click"),
        first("purchase").alias("first_purchase"),
    )
    viewed = F.col("first_view").isNotNull()
    clicked = viewed & (F.col("first_click") > F.col("first_view"))
    purchased = clicked & (F.col("first_purchase") > F.col("first_click"))
    return per_user.agg(
        F.count("*").alias("n_users"),
        F.count_if(viewed).alias("viewed"),
        F.count_if(clicked).alias("then_clicked"),
        F.count_if(purchased).alias("then_purchased"),
    )


@query(
    "q66_cohort_retention",
    """
    WITH firsts AS (
        SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
        FROM events GROUP BY user_id
    ), activity AS (
        SELECT DISTINCT e.user_id, f.cohort_day,
               date_diff('day', f.cohort_day, CAST(e.ts AS DATE)) AS days_since
        FROM events e JOIN firsts f ON e.user_id = f.user_id
    )
    SELECT cohort_day, days_since, count(*) AS active_users
    FROM activity
    WHERE days_since <= 7
    GROUP BY cohort_day, days_since
    """,
)
def q66_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-seen day,
    activity counted per day-offset. Two shuffles (first-seen agg +
    final matrix agg); the join broadcasts the per-user cohort map
    when small, AQE decides otherwise."""
    e = _t(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("cohort_day")
    )
    activity = (
        e.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(F.to_date("ts"), F.col("cohort_day")).alias(
                "days_since"
            ),
        )
        .distinct()
    )
    return (
        activity.where(F.col("days_since") <= 7)
        .groupBy("cohort_day", "days_since")
        .agg(F.count("*").alias("active_users"))
    )


@query(
    "q67_deterministic_sample",
    """
    SELECT count(*) AS n_sampled,
           round(sum(l_extendedprice), 2) AS sum_price
    FROM lineitem
    WHERE CAST(concat('0x', substr(md5(concat(CAST(l_orderkey AS VARCHAR), '-',
                     CAST(l_linenumber AS VARCHAR))), 1, 8)) AS BIGINT) % 10 = 0
    """,
)
def q67_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible ~10% sample via content hashing (md5(key) mod 10):
    unlike rand()-based TABLESAMPLE, identical across engines, runs,
    and partitionings — the sampling primitive a training-data
    pipeline needs for held-out splits."""
    li = _t(spark, sf_dir, "lineitem")
    key = F.concat_ws(
        "-",
        F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"),
    )
    bucket = (
        F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long") % 10
    )
    return li.where(bucket == 0).agg(
        F.count("*").alias("n_sampled"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
    )


@query(
    "q68_tpch_q7_volume",
    """
    SELECT supp_nation, cust_nation, yr,
           round(sum(volume), 2) AS revenue
    FROM (
        SELECT ns.n_name AS supp_nation,
               nc.n_name AS cust_nation,
               year(l_shipdate) AS yr,
               l_extendedprice * (1 - l_discount) AS volume
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ns ON s_nationkey = ns.n_nationkey
        JOIN nation nc ON c_nationkey = nc.n_nationkey
        WHERE ns.n_name IN ('NATION_1', 'NATION_2')
          AND nc.n_name IN ('NATION_1', 'NATION_2')
          AND ns.n_name <> nc.n_name
    )
    GROUP BY supp_nation, cust_nation, yr
    """,
)
def q68_tpch_q7_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (bilateral trade volume): five-way join with the same
    dimension joined twice under different roles (supplier vs customer
    nation) — alias discipline + two broadcasts of one table."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    ns = n.select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    )
    nc = n.select(
        F.col("n_nationkey").alias("nc_key"), F.col("n_name").alias("cust_nation")
    )
    pair = ["NATION_1", "NATION_2"]
    return (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("ns_key"))
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("nc_key"))
        .where(
            F.col("supp_nation").isin(pair)
            & F.col("cust_nation").isin(pair)
            & (F.col("supp_nation") != F.col("cust_nation"))
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("yr"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@query(
    "q69_correlated_subquery",
    """
    SELECT o_orderkey, o_custkey, o_totalprice,
           CAST(round(CAST(o_totalprice / cust_avg AS DECIMAL(30,10)), 4) AS DOUBLE)
               AS vs_cust_avg
    FROM (
        SELECT o_orderkey, o_custkey, o_totalprice,
               avg(o_totalprice) OVER (PARTITION BY o_custkey) AS cust_avg
        FROM orders
    )
    WHERE o_totalprice > cust_avg
    """,
)
def q69_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated per-row comparison against a group aggregate
    ('orders above the customer's own average') — decorrelated into a
    window aggregate: one shuffle, no self-join."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    return (
        o.withColumn("cust_avg", F.avg("o_totalprice").over(w))
        .where(F.col("o_totalprice") > F.col("cust_avg"))
        .select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            _sround(F.col("o_totalprice") / F.col("cust_avg"), 4).alias(
                "vs_cust_avg"
            ),
        )
    )


@query(
    "q70_map_functions",
    """
    WITH kv AS (
        SELECT event_type, 'k' AS mk,
               CAST(props::JSON->>'k' AS INT) AS mv
        FROM events
        UNION ALL
        SELECT event_type, 'v10' AS mk,
               CAST(floor(value * 10) AS INT) AS mv
        FROM events
    )
    SELECT event_type, mk,
           count(*) AS n,
           CAST(sum(mv) AS BIGINT) AS sum_v,
           min(mv) AS min_v,
           max(mv) AS max_v,
           count(*) FILTER (mv % 2 = 0) AS n_even
    FROM kv GROUP BY event_type, mk
    """,
)
def q70_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-type column battery: from_json → map<string,int>, map_concat
    with a computed entry, explode to (key, value), higher-order
    map_filter — all JVM-side (no Python UDF). Mirrors the reference's
    semi-structured read path (SURVEY §2.7) over events.props.

    floor() (not a straight double→int cast) on both sides: Spark
    truncates toward zero on cast, DuckDB rounds half-even — floor is
    the engine-stable choice (see module docstring conventions).
    """
    e = _t(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,int>")
    full = F.map_concat(
        m,
        F.create_map(F.lit("v10"), F.floor(F.col("value") * 10).cast("int")),
    )
    kv = e.select(
        "event_type",
        F.explode(full).alias("mk", "mv"),
        # exercised for plan coverage: element_at + map_filter stay in
        # whole-stage codegen as higher-order expressions
        F.element_at(full, "k").alias("__k"),
        F.map_filter(full, lambda k, v: v % 2 == 0).alias("__even"),
    )
    return kv.groupBy("event_type", "mk").agg(
        F.count("*").alias("n"),
        F.sum("mv").alias("sum_v"),
        F.min("mv").alias("min_v"),
        F.max("mv").alias("max_v"),
        F.count(F.when(F.col("mv") % 2 == 0, 1)).alias("n_even"),
    )


@query(
    "q71_tpch_q18_volume",
    """
    SELECT c_name, c.c_custkey, o.o_orderkey, o_orderdate, o_totalprice,
           round(sum(l_quantity), 2) AS sum_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey HAVING sum(l_quantity) > 300
    )
    GROUP BY c_name, c.c_custkey, o.o_orderkey, o_orderdate, o_totalprice
    """,
)
def q71_tpch_q18_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customers), trimmed schema.

    Scale shape: the HAVING subquery is a map-side-combinable agg on
    lineitem's natural key; its output (few orderkeys) broadcasts into
    a semi join, so the big fact is shuffled exactly once (the final
    groupBy). Reference parity: SURVEY §2.7 delegated-query surface.
    """
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("__sq"))
        .where(F.col("__sq") > 300)
        .select("l_orderkey")
    )
    return (
        o.join(F.broadcast(big), o.o_orderkey == big.l_orderkey, "semi")
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(l, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
    )


@query(
    "q72_tpch_q13_custdist",
    """
    SELECT c_count, count(*) AS custdist
    FROM (
        SELECT c_custkey, count(o_orderkey) AS c_count
        FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey
    )
    GROUP BY c_count
    """,
)
def q72_tpch_q13_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer order-count distribution): left outer join
    preserving order-less customers, then re-aggregation of the
    aggregate. Second groupBy keys on c_count (tiny domain) — AQE
    coalesces those post-shuffle partitions."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
    )


@query(
    "q73_tpch_q19_disjunctive",
    """
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_matched
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 21)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
           AND l_quantity BETWEEN 10 AND 30)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
           AND l_quantity BETWEEN 20 AND 40)
    """,
)
def q73_tpch_q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (disjunctive mixed-table predicate), adapted to
    the trimmed schema (no p_container/l_shipmode in testdata).

    Catalyst splits the OR into a pushable part-only residual
    (p_brand IN (...) AND p_size <= 35) pushed to the part scan, and
    evaluates the cross-table disjunction post-join; part side is
    broadcast so lineitem never shuffles."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    joined = l.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
    cond = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 21)
    ) | (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 25)
        & F.col("l_quantity").between(10, 30)
    ) | (
        (F.col("p_brand") == "Brand#34")
        & F.col("p_size").between(1, 35)
        & F.col("l_quantity").between(20, 40)
    )
    return joined.where(cond).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
        F.count("*").alias("n_matched"),
    )


@query(
    "q74_tpch_q22_style",
    """
    WITH threshold AS (
        SELECT avg(o_totalprice) AS avg_price FROM orders
    )
    SELECT c_mktsegment AS segment,
           count(*) AS numcust,
           round(sum(c_acctbal), 2) AS totacctbal
    FROM customer c
    WHERE c_acctbal > 0
      AND NOT EXISTS (
          SELECT 1 FROM orders o, threshold t
          WHERE o.o_custkey = c.c_custkey
            AND o.o_totalprice > t.avg_price
      )
    GROUP BY c_mktsegment
    """,
)
def q74_tpch_q22_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (positive-balance customers with no
    above-average order), trimmed schema (no c_phone country codes).

    The global average is a scalar broadcast (no shuffle); the NOT
    EXISTS is an anti join against the filtered orders — at 100 TB the
    filtered side is small enough that AQE converts it to broadcast."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    avg_price = o.agg(F.avg("o_totalprice").alias("avg_price"))
    big_orders = (
        o.join(F.broadcast(avg_price))
        .where(F.col("o_totalprice") > F.col("avg_price"))
        .select("o_custkey")
    )
    return (
        c.where(F.col("c_acctbal") > 0)
        .join(big_orders, c.c_custkey == big_orders.o_custkey, "anti")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


@query(
    "q75_merge_upsert",
    """
    WITH spend AS (
        SELECT o_custkey, round(sum(o_totalprice), 2) AS new_bal
        FROM orders GROUP BY o_custkey
    ),
    merged AS (
        SELECT c.c_mktsegment,
               CASE WHEN s.o_custkey IS NOT NULL THEN s.new_bal
                    ELSE c.c_acctbal END AS bal
        FROM customer c LEFT JOIN spend s ON c.c_custkey = s.o_custkey
        WHERE NOT (s.o_custkey IS NOT NULL AND s.new_bal < 20000)
        UNION ALL
        SELECT 'NEW', new_bal FROM spend
        WHERE o_custkey % 100 = 0
          AND NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o_custkey + 1000000)
    )
    SELECT c_mktsegment AS segment,
           count(*) AS n,
           round(sum(bal), 2) AS total_bal
    FROM merged GROUP BY c_mktsegment
    """,
)
def q75_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-style MERGE through the full copy-on-write path: stage a
    customer table in parquet, MERGE a CDC batch (per-customer spend)
    into it — matched rows update their balance, low-spend matches are
    deleted, every 100th key arrives offset by 1e6 and inserts as a
    'NEW'-segment customer — then aggregate the post-merge table.

    One full-outer shuffle on the merge key + an atomic directory swap
    (operators/merge.py); no per-row Python anywhere."""
    import shutil as _shutil

    from ..operators.merge import merge_into_parquet

    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("new_bal")
    )
    inserts = spend.where(F.col("o_custkey") % 100 == 0).select(
        (F.col("o_custkey") + 1000000).alias("o_custkey"), "new_bal"
    )
    source = (
        spend.unionByName(inserts)
        .withColumnRenamed("o_custkey", "c_custkey")
        .withColumn("c_name", F.concat(F.lit("Customer#"), F.col("c_custkey")))
    )

    staged = tempfile.mkdtemp(prefix="ehs_merge_t_")
    _shutil.rmtree(staged)  # merge target must be the parquet dir itself
    c.write.parquet(staged)
    merge_into_parquet(
        spark,
        staged,
        source,
        keys=["c_custkey"],
        when_matched_update={"c_acctbal": "s.new_bal"},
        when_matched_delete="s.new_bal < 20000",
        when_not_matched_insert={
            "c_custkey": "s.c_custkey",
            "c_name": "s.c_name",
            "c_nationkey": "CAST(-1 AS BIGINT)",
            "c_acctbal": "s.new_bal",
            "c_mktsegment": "'NEW'",
        },
        broadcast_source=False,
    )
    merged = read_parquet_state(spark, staged)
    return merged.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count("*").alias("n"),
        F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
    )


@query(
    "q76_range_join",
    """
    WITH iv AS (
        SELECT day * 2 + slot AS interval_id, label,
               TIMESTAMP '2024-01-01 00:00:00'
                   + day * INTERVAL 1 DAY
                   + off * INTERVAL 1 SECOND AS w_start,
               TIMESTAMP '2024-01-01 00:00:00'
                   + day * INTERVAL 1 DAY
                   + (off + dur) * INTERVAL 1 SECOND AS w_end
        FROM generate_series(0, 29) g(day),
             (VALUES (0, 28800, 5400, 'morning'),
                     (1, 64800, 7200, 'evening')) v(slot, off, dur, label)
    )
    SELECT interval_id, label, w_start,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events e JOIN iv ON e.ts >= iv.w_start AND e.ts < iv.w_end
    GROUP BY interval_id, label, w_start
    """,
)
def q76_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval range join (functions/util.py::range_join):
    60 maintenance windows over January joined to events WITHOUT the
    BroadcastNestedLoopJoin a theta join would plan — intervals
    explode into hourly buckets, events hash-join on their bucket,
    exact containment filters after. The custom-operator pattern for
    semantics Spark lacks natively (as-of/range joins)."""
    from ..functions.util import range_join

    e = _t(spark, sf_dir, "events")
    from ..functions.util import literal_frame

    base = literal_frame(
        spark,
        [(0, 28800, 5400, "morning"), (1, 64800, 7200, "evening")],
        "slot long, off long, dur long, label string",
    )
    t0 = F.lit("2024-01-01 00:00:00").cast("timestamp_ntz")
    iv = (
        spark.range(0, 30)
        .withColumnRenamed("id", "day")
        .crossJoin(base)
        .select(
            (F.col("day") * 2 + F.col("slot")).alias("interval_id"),
            "label",
            (
                t0
                + F.make_dt_interval(
                    F.col("day"), F.lit(0), F.lit(0), F.col("off")
                )
            ).alias("w_start"),
            (
                t0
                + F.make_dt_interval(
                    F.col("day"), F.lit(0), F.lit(0), F.col("off") + F.col("dur")
                )
            ).alias("w_end"),
        )
    )
    joined = range_join(
        e, iv, "ts", "w_start", "w_end", bucket_seconds=3600,
        broadcast_intervals=True,
    )
    return joined.groupBy("interval_id", "label", "w_start").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


@query(
    "q77_cascade_rollup",
    """
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS hour_start, event_type,
               count(*) AS n, sum(value) AS sv
        FROM events GROUP BY 1, 2
    )
    SELECT CAST(date_trunc('day', hour_start) AS DATE) AS day, event_type,
           CAST(sum(n) AS BIGINT) AS n_events,
           round(sum(sv), 2) AS sum_value,
           CAST(round(CAST(sum(sv) / sum(n) AS DECIMAL(30,10)), 4)
                AS DOUBLE) AS avg_value
    FROM hourly GROUP BY 1, 2
    """,
)
def q77_cascade_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate cascade (hypertable rollup pattern): daily
    aggregates derived from the HOURLY aggregate, not the raw table —
    only mergeable partials (sum/count) cascade; avg is re-derived at
    the coarser grain. At 100 TB the hourly layer is ~10^4× smaller
    than raw events, so downstream rollups shuffle the small aggregate
    instead of re-scanning the fact table."""
    e = _t(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.date_trunc("hour", "ts").alias("hour_start"),
        "event_type",
    ).agg(F.count("*").alias("n"), F.sum("value").alias("sv"))
    return hourly.groupBy(
        F.date_trunc("day", "hour_start").cast("date").alias("day"),
        "event_type",
    ).agg(
        F.sum("n").alias("n_events"),
        F.round(F.sum("sv"), 2).alias("sum_value"),
        _sround(F.sum("sv") / F.sum("n"), 4).alias("avg_value"),
    )


@query(
    "q78_stratified_sample",
    """
    SELECT event_type,
           count(*) AS n_sampled,
           round(sum(value), 2) AS sum_value
    FROM events
    WHERE md5(CAST(event_id AS VARCHAR)) <
          CASE event_type
               WHEN 'view' THEN '1'
               WHEN 'click' THEN '4'
               ELSE '8'
          END
    GROUP BY event_type
    """,
)
def q78_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: per-stratum rates driven by a
    content hash of the row key, not a seeded RNG — reproducible across
    engines/runs/partitionings (unlike sampleBy), and embarrassingly
    parallel (a pushed-down filter; no shuffle until the audit agg).
    Hex-prefix thresholds: 'view' keeps md5 < '1' (1/16), 'click' < '4'
    (1/4), others < '8' (1/2) — the down-weight-the-majority-class
    recipe of training-data pipelines."""
    e = _t(spark, sf_dir, "events")
    rate = (
        F.when(F.col("event_type") == "view", F.lit("1"))
        .when(F.col("event_type") == "click", F.lit("4"))
        .otherwise(F.lit("8"))
    )
    return (
        e.where(F.md5(F.col("event_id").cast("string")) < rate)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_sampled"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


@query(
    "q79_approx_distinct_bounds",
    """
    SELECT count(DISTINCT user_id) AS exact_users,
           TRUE AS approx_within_5pct
    FROM events
    """,
)
def q79_approx_distinct_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based approximate distinct with a VERIFIED error bound:
    the query returns the exact count plus a boolean asserting Spark's
    HLL++ estimate (approx_count_distinct, rsd=2%) lands within 5% of
    it — so the oracle check proves the sketch's accuracy contract,
    not just that it runs. At 100 TB the sketch is the only viable
    path: fixed ~kB state per group, mergeable map-side, no
    shuffle-the-world exact distinct."""
    e = _t(spark, sf_dir, "events")
    return e.agg(
        F.count_distinct("user_id").alias("exact_users"),
        (
            F.abs(
                F.approx_count_distinct("user_id", 0.02)
                - F.count_distinct("user_id")
            )
            / F.count_distinct("user_id")
            < 0.05
        ).alias("approx_within_5pct"),
    )


@query(
    "q80_python_datasource",
    """
    SELECT label, count(*) AS n,
           round(sum(reading), 3) AS total_reading,
           max(reading) AS max_reading
    FROM (
        SELECT i AS id, 's' || CAST(i % 5 AS VARCHAR) AS label,
               (i * 31 % 997) / 1000.0 AS reading
        FROM generate_series(0, 9999) g(i)
    )
    GROUP BY label
    """,
)
def q80_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom connector on the Spark 4 Python DataSource API
    (sources/pyds.py): partition-parallel reads of a deterministic
    synthetic source — Spark's native extensibility analogue of the
    reference's DbHelper subclassing. The oracle regenerates the same
    rows in SQL, proving read correctness across every partition."""
    from ..sources.pyds import register_synthetic_source

    configure_session(spark)
    register_synthetic_source(spark)
    df = (
        spark.read.format("ehs_synthetic")
        .option("rows", 10000)
        .option("partitions", 8)
        .load()
    )
    return df.groupBy("label").agg(
        F.count("*").alias("n"),
        F.round(F.sum("reading"), 3).alias("total_reading"),
        F.max("reading").alias("max_reading"),
    )


@query(
    "q43_tfidf",
    """
    WITH tok AS (
        SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z]+'))
                   AS term
        FROM documents
    ),
    tf AS (
        SELECT doc_id, term, count(*) AS tf
        FROM tok WHERE term <> '' GROUP BY doc_id, term
    ),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    nd AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term,
               round(tf.tf * ln(CAST(nd.n_docs AS DOUBLE) / dfreq.df), 4)
                   AS tfidf
        FROM tf JOIN dfreq USING (term) CROSS JOIN nd
    )
    SELECT doc_id, term, tfidf FROM (
        SELECT doc_id, term, tfidf,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY tfidf DESC, term) AS rn
        FROM scored
    ) WHERE rn <= 3
    """,
)
def q43_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-3 terms per document, all in built-in aggregates
    (no pyspark.ml): tf = per-(doc,term) count, df = per-term doc
    count, idf = ln(N/df) with N a broadcast scalar. Two shuffles
    (doc,term / term); the top-k window re-uses the doc_id
    partitioning. Ordering ties broken on term so the row_number cut
    is engine-stable."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("term"),
    ).where(F.col("term") != "")
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    nd = d.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                4,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("doc_id", "term", "tfidf")
    )


@query(
    "q82_label_centroids",
    """
    SELECT label, i - 1 AS dim,
           count(*) AS n,
           CAST(round(CAST(avg(embedding[i]) AS DECIMAL(30,10)), 4)
                AS DOUBLE) AS centroid_val
    FROM embeddings, generate_series(1, 8) g(i)
    GROUP BY label, i
    """,
)
def q82_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (first 8 dims): posexplode of a
    sliced array — one shuffle on (label, dim), map-side combinable.
    The full-dim version is the k-means update step / class-prototype
    computation of an embedding pipeline; slicing keeps the oracle
    comparison tight."""
    emb = _t(spark, sf_dir, "embeddings")
    return (
        emb.select(
            "label",
            F.posexplode(F.slice("embedding", 1, 8)).alias("dim", "v"),
        )
        .groupBy("label", "dim")
        .agg(
            F.count("*").alias("n"),
            _sround(F.avg(F.col("v").cast("double")), 4).alias(
                "centroid_val"
            ),
        )
    )


@query(
    "q83_variant_type",
    """
    SELECT event_type,
           CAST(sum(CAST(props::JSON->>'k' AS INT)) AS BIGINT) AS sum_k,
           count(*) FILTER (CAST(props::JSON->>'k' AS INT) > 50)
               AS n_high,
           max(CAST(props::JSON->>'k' AS INT)) AS max_k
    FROM events GROUP BY event_type
    """,
)
def q83_variant_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT type: parse_json once into the binary
    variant encoding, then typed variant_get extraction — the
    open-schema semi-structured path (vs q15's per-field
    get_json_object string re-parse). At scale variant decodes the
    document once and field access is sub-linear, the same reason
    warehouses store JSON as VARIANT."""
    e = _t(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json("props"), "$.k", "int")
    return e.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"),
        F.count(F.when(k > 50, 1)).alias("n_high"),
        F.max(k).alias("max_k"),
    )


@query(
    "q37_dup_clusters",
    """
    WITH RECURSIVE toks AS (
        SELECT doc_id AS id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
        FROM documents
    ), sh AS (
        SELECT DISTINCT id, shingle FROM (
            SELECT id, array_to_string(t[i:i+2], ' ') AS shingle
            FROM (SELECT id, t, unnest(range(1, len(t)-1)) AS i FROM toks)
        ) WHERE shingle <> ''
    ), sizes AS (
        SELECT id, count(*) AS n_shingles FROM sh GROUP BY id
    ), shared AS (
        SELECT a.id AS id_a, b.id AS id_b, count(*) AS shared
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY a.id, b.id
    ), pairs AS (
        SELECT id_a, id_b
        FROM shared
        JOIN sizes sa ON id_a = sa.id
        JOIN sizes sb ON id_b = sb.id
        WHERE round(shared / (sa.n_shingles + sb.n_shingles - shared), 4)
              >= 0.5
    ), edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs
    ), nodes AS (SELECT DISTINCT src AS id FROM edges),
    reach(id, lab) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT e.src, r.lab FROM edges e JOIN reach r ON e.dst = r.id
    )
    SELECT id AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY id
    """,
)
def q37_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: exact-jaccard pairs (PPJoin) grouped by
    distributed connected components (min-label propagation,
    functions/dedup.py::duplicate_clusters) — the step between pair
    generation and survivor selection in a real dedup pipeline. The
    oracle verifies with a recursive-CTE transitive closure, so the
    iterative Spark algorithm is value-checked, not rows-only."""
    clusters = _dup_clusters_cached(spark, sf_dir)
    return clusters.select(
        F.col("node_id").alias("doc_id"), "cluster_id"
    )


@query(
    "q85_stream_stream_join",
    """
    WITH v AS (
        SELECT user_id, ts AS view_ts FROM events WHERE event_type = 'view'
    ), p AS (
        SELECT user_id, ts AS purchase_ts, event_id AS purchase_id, value
        FROM events WHERE event_type = 'purchase'
    )
    SELECT p.user_id,
           count(*) AS n_attributed_views,
           count(DISTINCT purchase_id) AS n_purchases,
           round(sum(value), 2) AS attr_value
    FROM p JOIN v ON p.user_id = v.user_id
        AND v.view_ts <= p.purchase_ts
        AND v.view_ts >= p.purchase_ts - INTERVAL 60 MINUTE
    GROUP BY p.user_id
    """,
)
def q85_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM watermarked join (view→purchase attribution
    within 60 min): both sides are unbounded streams; the time-bound
    join condition + watermarks let Spark evict view state past the
    horizon (bounded state forever). Drained availableNow; equals the
    batch self-join oracle. attr_value intentionally counts a
    purchase's value once per attributed view (per-impression
    credit)."""
    from ..streaming.windows import stream_stream_view_purchase_join

    configure_session(spark)
    ckpt = tempfile.mkdtemp(prefix="ehs_ssj_")
    return stream_stream_view_purchase_join(spark, sf_dir, ckpt)


@query(
    "q44_contamination",
    """
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
        FROM documents
    ), needles AS (
        SELECT DISTINCT array_to_string(t[1:5], ' ') AS needle
        FROM toks WHERE doc_id % 97 = 0 AND len(t) >= 5
    ), grams AS (
        SELECT doc_id, array_to_string(t[i:i+4], ' ') AS gram
        FROM (SELECT doc_id, t, unnest(range(1, len(t) - 3)) AS i
              FROM toks WHERE len(t) >= 5)
    )
    SELECT doc_id, count(DISTINCT gram) AS n_hits
    FROM grams JOIN needles ON gram = needle
    GROUP BY doc_id
    """,
)
def q44_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: which documents contain any
    needle 5-gram (here: the opening 5-gram of every 97th doc, standing
    in for a benchmark set). Docs explode into word 5-grams ONCE and
    hash-join against the broadcast needle set — the needle list never
    shuffles the corpus, so at 100 TB cost is one corpus pass
    regardless of needle count (the n-gram-overlap decontamination
    recipe of LLM training pipelines)."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.split(F.lower(F.trim("text")), r"\s+").alias("t")
    ).where(F.size("t") >= 5)
    needles = (
        toks.where(F.col("doc_id") % 97 == 0)
        .select(F.concat_ws(" ", F.slice("t", 1, 5)).alias("needle"))
        .distinct()
    )
    grams = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 4),
                lambda i: F.concat_ws(" ", F.slice("t", i, 5)),
            )
        ).alias("gram"),
    )
    return (
        grams.join(F.broadcast(needles), grams.gram == needles.needle)
        .groupBy("doc_id")
        .agg(F.count_distinct("gram").alias("n_hits"))
    )


@query(
    "q87_repetition",
    """
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
        FROM documents
    ), grams AS (
        SELECT doc_id, array_to_string(t[i:i+2], ' ') AS g
        FROM (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i
              FROM toks WHERE len(t) >= 3)
    ), stats AS (
        SELECT doc_id, count(*) AS n_grams,
               count(DISTINCT g) AS n_distinct
        FROM grams GROUP BY doc_id
    )
    SELECT doc_id, n_grams, n_distinct,
           round(1 - n_distinct / CAST(n_grams AS DOUBLE), 4)
               AS repetition_ratio,
           (n_distinct / CAST(n_grams AS DOUBLE)) < 0.8 AS flagged
    FROM stats WHERE n_grams >= 10
    """,
)
def q87_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition detection (boilerplate/spam filter):
    1 - distinct/total trigram ratio per doc, flagging docs whose
    trigram diversity drops below 0.8 — a Gopher/RefinedWeb-style
    quality rule. One explode + one (doc,gram) agg, map-side
    combinable; no cross-document shuffle at all."""
    d = _t(spark, sf_dir, "documents")
    grams = (
        d.select(
            "doc_id", F.split(F.lower(F.trim("text")), r"\s+").alias("t")
        )
        .where(F.size("t") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - 2),
                    lambda i: F.concat_ws(" ", F.slice("t", i, 3)),
                )
            ).alias("g"),
        )
    )
    stats = grams.groupBy("doc_id").agg(
        F.count("*").alias("n_grams"),
        F.count_distinct("g").alias("n_distinct"),
    )
    ratio = F.col("n_distinct") / F.col("n_grams").cast("double")
    return stats.where(F.col("n_grams") >= 10).select(
        "doc_id",
        "n_grams",
        "n_distinct",
        F.round(1 - ratio, 4).alias("repetition_ratio"),
        (ratio < 0.8).alias("flagged"),
    )


@query(
    "q40_dedup_survivors",
    """
    WITH RECURSIVE toks AS (
        SELECT doc_id AS id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
        FROM documents
    ), sh AS (
        SELECT DISTINCT id, shingle FROM (
            SELECT id, array_to_string(t[i:i+2], ' ') AS shingle
            FROM (SELECT id, t, unnest(range(1, len(t)-1)) AS i FROM toks)
        ) WHERE shingle <> ''
    ), sizes AS (
        SELECT id, count(*) AS n_shingles FROM sh GROUP BY id
    ), shared AS (
        SELECT a.id AS id_a, b.id AS id_b, count(*) AS shared
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY a.id, b.id
    ), pairs AS (
        SELECT id_a, id_b
        FROM shared
        JOIN sizes sa ON id_a = sa.id
        JOIN sizes sb ON id_b = sb.id
        WHERE round(shared / (sa.n_shingles + sb.n_shingles - shared), 4)
              >= 0.5
    ), edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs
    ), nodes AS (SELECT DISTINCT src AS id FROM edges),
    reach(id, lab) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT e.src, r.lab FROM edges e JOIN reach r ON e.dst = r.id
    ), clusters AS (
        SELECT id, min(lab) AS cluster_id FROM reach GROUP BY id
    ), scored AS (
        SELECT c.id, c.cluster_id,
               CAST(round(CAST(
                   least(len(regexp_split_to_array(trim(d.text), '\\s+')) / 50.0,
                         1.0)
                   * (1.0 - length(regexp_replace(d.text, '[^.,;:!?]', '', 'g'))
                          / greatest(length(d.text), 1))
                   AS DECIMAL(30,10)), 4) AS DOUBLE) AS quality
        FROM clusters c JOIN documents d ON d.doc_id = c.id
    )
    SELECT id AS doc_id, cluster_id, quality,
           first_value(id) OVER w AS survivor_id,
           id = first_value(id) OVER w AS kept
    FROM scored
    WINDOW w AS (PARTITION BY cluster_id ORDER BY quality DESC, id ASC)
    """,
)
def q40_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE dedup pipeline: exact-jaccard pairs (PPJoin) →
    connected-component clusters → quality-policy survivor per cluster
    (functions/dedup.py::select_survivors).  Highest quality_score
    wins, ties to smallest doc_id, so the survivor set is
    deterministic across engines — only clustered docs (a tiny
    fraction of the corpus) ever reach the ranking window."""
    d = _t(spark, sf_dir, "documents")
    clusters = _dup_clusters_cached(spark, sf_dir)
    tok = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    punct = F.length(
        F.regexp_replace(F.col("text"), r"[^.,;:!?]", "")
    ) / F.greatest(F.length(F.col("text")), F.lit(1))
    quality = _sround(
        F.least(tok / F.lit(50.0), F.lit(1.0)) * (F.lit(1.0) - punct), 4
    )
    surv = select_survivors(d, clusters, "doc_id", quality_col=quality)
    return surv.select(
        F.col("id").alias("doc_id"),
        "cluster_id",
        "quality",
        "survivor_id",
        "kept",
    )


@query(
    "q89_char_entropy",
    """
    WITH chars AS (
        SELECT doc_id, unnest(string_split(text, '')) AS ch
        FROM documents WHERE length(text) > 0
    ), counts AS (
        SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY doc_id, ch
    ), agg AS (
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_chars,
               sum(c * log2(c)) AS s
        FROM counts GROUP BY doc_id
    )
    SELECT doc_id, n_chars,
           CAST(round(CAST(log2(n_chars) - s / n_chars
                AS DECIMAL(30,10)), 4) AS DOUBLE) AS entropy
    FROM agg
    """,
)
def q89_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document — the classic
    gibberish/binary-spill detector in corpus quality pipelines (low
    entropy = repeated filler, high = random bytes).  Uses the
    one-pass identity H = log2(N) - Σc·log2(c)/N over per-char counts,
    so it's explode + two map-side-combinable aggs, no window and no
    second pass over the text."""
    d = _t(spark, sf_dir, "documents")
    counts = (
        d.where(F.length("text") > 0)
        .select("doc_id", F.explode(F.split("text", "")).alias("ch"))
        .groupBy("doc_id", "ch")
        .agg(F.count("*").alias("c"))
    )
    agg = counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_chars"),
        F.sum(F.col("c") * F.log2("c")).alias("s"),
    )
    return agg.select(
        "doc_id",
        "n_chars",
        _sround(
            F.log2("n_chars") - F.col("s") / F.col("n_chars"), 4
        ).alias("entropy"),
    )


@query(
    "q90_sequence_packing",
    """
    WITH toks AS (
        SELECT doc_id, source,
               len(regexp_split_to_array(trim(text), '\\s+')) AS tok
        FROM documents
    ), packed AS (
        SELECT source, doc_id, tok,
               CAST((sum(tok) OVER (PARTITION BY source ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) - tok) // 4096
                   AS BIGINT) AS bin_id
        FROM toks
    )
    SELECT source, bin_id,
           count(*) AS n_docs,
           CAST(sum(tok) AS BIGINT) AS bin_tokens
    FROM packed GROUP BY source, bin_id
    """,
)
def q90_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing: assign documents (in stable doc_id
    order per source shard) to ~4096-token training bins via running
    token cumsum — floor(preceding_tokens / 4096).  The deterministic
    packing used to batch pre-training corpora: one window per shard
    partition (each shard's docs are co-located, so the window never
    crosses executors), then a map-side-combinable per-bin rollup."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "source",
        F.size(F.split(F.trim("text"), r"\s+")).alias("tok"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = toks.withColumn(
        "bin_id",
        F.floor((F.sum("tok").over(w) - F.col("tok")) / F.lit(4096)),
    )
    return packed.groupBy("source", "bin_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("tok").alias("bin_tokens"),
    )


@query(
    "q91_tpch_q5",
    """
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1995-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC
    """,
)
def q91_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume): the 6-table snowflake with
    the customer-nation = supplier-nation locality condition.  region
    → nation → supplier prune BEFORE touching facts and broadcast into
    the lineitem join; the only big-big shuffle is orders⋈lineitem on
    orderkey.  The runtime bloom filter on l_orderkey built from the
    date-filtered orders side kills non-matching lineitem rows at the
    scan (session.py)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    o = o.where(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    asia_nations = (
        n.join(
            F.broadcast(r.where(F.col("r_name") == "ASIA")),
            n.n_regionkey == r.r_regionkey,
        ).select("n_nationkey", "n_name")
    )
    local_sup = s.join(
        F.broadcast(asia_nations), s.s_nationkey == F.col("n_nationkey")
    ).select("s_suppkey", "s_nationkey", "n_name")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(local_sup), li.l_suppkey == F.col("s_suppkey"))
        .join(
            c,
            (o.o_custkey == c.c_custkey)
            & (F.col("s_nationkey") == c.c_nationkey),
        )
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"))
    )


@query(
    "q92_tpch_q17",
    """
    WITH part_avg AS (
        SELECT l_partkey, 0.2 * avg(l_quantity) AS qty_limit
        FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(round(CAST(sum(l_extendedprice) / 7.0
               AS DECIMAL(30,10)), 2) AS DOUBLE) AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN part_avg ON part_avg.l_partkey = lineitem.l_partkey
    WHERE p_brand = 'Brand#23'
      AND l_quantity < qty_limit
    """,
)
def q92_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue), decorrelated the way
    Catalyst would: the correlated scalar subquery avg(l_quantity) per
    part becomes one groupBy over lineitem joined back on partkey —
    at 100 TB that's a partial-agg + one co-keyed shuffle instead of a
    per-row subquery.  The Brand#23 part filter broadcasts; pushing it
    into BOTH the avg side and the probe side would change semantics
    (the average is over ALL orders of the part), so only the probe is
    filtered."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    part_avg = li.groupBy(F.col("l_partkey").alias("pa_key")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_limit")
    )
    brand = p.where(F.col("p_brand") == "Brand#23").select("p_partkey")
    return (
        li.join(F.broadcast(brand), li.l_partkey == F.col("p_partkey"))
        .join(part_avg, li.l_partkey == F.col("pa_key"))
        .where(F.col("l_quantity") < F.col("qty_limit"))
        .agg(
            _sround(F.sum("l_extendedprice") / F.lit(7.0), 2).alias(
                "avg_yearly"
            )
        )
    )


@query(
    "q93_tpch_q15",
    """
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               round(sum(l_extendedprice * (1 - l_discount)), 2)
                   AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-07-01'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
)
def q93_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): the max-of-an-aggregate pattern.  The
    scalar max is a 1-row DataFrame cross-joined (broadcast) into the
    per-supplier revenue table — NOT a global window, which would drag
    every supplier row into one partition at scale.  Revenue rounds to
    2dp before the equality comparison on both engines."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    lo = F.lit("1996-01-01").cast("timestamp_ntz")
    hi = F.lit("1996-07-01").cast("timestamp_ntz")
    revenue = (
        li.where((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("total_revenue")
        )
    )
    mx = revenue.agg(F.max("total_revenue").alias("mx"))
    return (
        revenue.crossJoin(F.broadcast(mx))
        .where(F.col("total_revenue") == F.col("mx"))
        .join(s, F.col("supplier_no") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "q94_tpch_q8",
    """
    SELECT o_year,
           CAST(round(CAST(
               sum(CASE WHEN nation = 'NATION_1' THEN volume ELSE 0 END)
                   / sum(volume) AS DECIMAL(30,10)), 4) AS DOUBLE)
               AS mkt_share
    FROM (
        SELECT year(o_orderdate) AS o_year,
               l_extendedprice * (1 - l_discount) AS volume,
               n2.n_name AS nation
        FROM lineitem
        JOIN part     ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region   ON n1.n_regionkey = r_regionkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
        WHERE r_name = 'AMERICA' AND p_type = 'PROMO'
          AND o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
    ) GROUP BY o_year
    """,
)
def q94_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): 8-table join where every
    dimension (part filtered to PROMO, supplier+nation, customer
    nation restricted to AMERICA via region) broadcasts into the
    orders⋈lineitem fact spine; the share is a conditional-sum /
    total-sum ratio per order year."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")

    o = o.where(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    promo = p.where(F.col("p_type") == "PROMO").select("p_partkey")
    america_cust = c.join(
        F.broadcast(
            n.join(
                F.broadcast(r.where(F.col("r_name") == "AMERICA")),
                n.n_regionkey == r.r_regionkey,
            ).select("n_nationkey")
        ),
        c.c_nationkey == F.col("n_nationkey"),
    ).select("c_custkey")
    sup_nation = s.join(
        F.broadcast(n.select(F.col("n_nationkey").alias("sn_key"), "n_name")),
        s.s_nationkey == F.col("sn_key"),
    ).select("s_suppkey", F.col("n_name").alias("nation"))

    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(promo), li.l_partkey == F.col("p_partkey"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(america_cust, o.o_custkey == F.col("c_custkey"))
        .join(F.broadcast(sup_nation), li.l_suppkey == F.col("s_suppkey"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            vol.alias("volume"),
            "nation",
        )
        .groupBy("o_year")
        .agg(
            _sround(
                F.sum(
                    F.when(F.col("nation") == "NATION_1", F.col("volume"))
                    .otherwise(F.lit(0.0))
                )
                / F.sum("volume"),
                4,
            ).alias("mkt_share")
        )
    )


@query(
    "q95_embedding_quant",
    """
    WITH scaled AS (
        SELECT vec_id, embedding,
               list_max(list_transform(embedding, x -> abs(x))) AS maxabs
        FROM embeddings
    )
    SELECT vec_id,
           len(embedding) AS n_dims,
           CAST(round(CAST(maxabs / 127.0 AS DECIMAL(30,10)), 6) AS DOUBLE)
               AS scale,
           CAST(list_sum(list_transform(embedding,
               x -> floor(CAST(x * 127.0 / maxabs AS DECIMAL(30,10)) + 0.5)))
               AS BIGINT) AS q_sum,
           CAST(list_sum(list_transform(embedding,
               x -> CAST(floor(CAST(x * 127.0 / maxabs AS DECIMAL(30,10)) + 0.5)
                         AS BIGINT)
                    * floor(CAST(x * 127.0 / maxabs AS DECIMAL(30,10)) + 0.5)))
               AS BIGINT) AS q_l2
    FROM scaled WHERE maxabs > 0
    """,
)
def q95_embedding_quant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization (the vector-index
    compression step): per-vector scale = max|x|/127, elements
    round-to-nearest via an engine-stable DECIMAL-cast floor(x+0.5).
    All higher-order array functions (transform/aggregate) — JVM
    codegen, no Python worker, no explode: the 100 TB path touches
    each vector exactly once.  Checksums (q_sum, Σq² as q_l2) stand in
    for the int8 array so the oracle hash-compares scalars, not float
    lists."""
    e = _t(spark, sf_dir, "embeddings")
    maxabs = F.array_max(F.transform("embedding", lambda x: F.abs(x)))
    q = lambda x: F.floor(  # noqa: E731 — engine-stable round-half-up
        (x * 127.0 / F.col("maxabs")).cast("decimal(30,10)") + F.lit(0.5)
    )
    return (
        e.withColumn("maxabs", maxabs)
        .where(F.col("maxabs") > 0)
        .select(
            "vec_id",
            F.size("embedding").alias("n_dims"),
            _sround(F.col("maxabs") / F.lit(127.0), 6).alias("scale"),
            F.aggregate(
                "embedding",
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + q(x),
            ).alias("q_sum"),
            F.aggregate(
                "embedding",
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + q(x) * q(x),
            ).alias("q_l2"),
        )
    )


@query(
    "q96_tpch_q9_profit",
    """
    SELECT nation, o_year,
           round(sum(amount), 2) AS sum_profit
    FROM (
        SELECT n_name AS nation,
               year(o_orderdate) AS o_year,
               l_extendedprice * (1 - l_discount)
                   - 0.6 * p_retailprice * l_quantity AS amount
        FROM lineitem
        JOIN part     ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN nation   ON s_nationkey = n_nationkey
        WHERE p_name LIKE '%widget%'
    ) GROUP BY nation, o_year
    """,
)
def q96_tpch_q9_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (product-type profit), adapted: testdata has no
    partsupp, so supply cost is proxied as 0.6·p_retailprice, and the
    name filter is '%widget%' (the spec's '%green%' with this data's
    part vocabulary).  part filters on the substring then broadcasts;
    profit aggregates by supplier nation × order year."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    green = p.where(F.col("p_name").like("%widget%")).select(
        "p_partkey", "p_retailprice"
    )
    sup_nat = s.join(
        F.broadcast(n.select(F.col("n_nationkey").alias("nk"), "n_name")),
        s.s_nationkey == F.col("nk"),
    ).select("s_suppkey", F.col("n_name").alias("nation"))
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.lit(
        0.6
    ) * F.col("p_retailprice") * F.col("l_quantity")
    return (
        li.join(F.broadcast(green), li.l_partkey == green.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(sup_nat), li.l_suppkey == F.col("s_suppkey"))
        .select(
            "nation",
            F.year("o_orderdate").alias("o_year"),
            amount.alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(F.round(F.sum("amount"), 2).alias("sum_profit"))
    )


@query(
    "q97_tpch_q2_mincost",
    """
    WITH offer AS (
        SELECT l_partkey AS partkey, l_suppkey AS suppkey,
               CAST(round(CAST(avg(l_extendedprice / l_quantity)
                    AS DECIMAL(30,10)), 4) AS DOUBLE) AS unit_cost
        FROM lineitem GROUP BY l_partkey, l_suppkey
    ), europe_sup AS (
        SELECT s_suppkey, s_name, s_acctbal, n_name
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE'
    ), ranked AS (
        SELECT p_partkey, p_name, s_name, n_name, s_acctbal, unit_cost,
               min(unit_cost) OVER (PARTITION BY p_partkey) AS best_cost
        FROM offer
        JOIN europe_sup ON suppkey = s_suppkey
        JOIN part ON p_partkey = partkey
        WHERE p_size <= 15
    )
    SELECT p_partkey, p_name, s_name, n_name, s_acctbal, unit_cost
    FROM ranked WHERE unit_cost = best_cost
    """,
)
def q97_tpch_q2_mincost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (minimum-cost supplier), adapted: partsupp doesn't
    exist, so the (part, supplier, cost) relation is DERIVED from
    lineitem history — avg unit price per (partkey, suppkey) — then
    the spec's correlated min-subquery becomes a per-part window min
    (one pass; Catalyst decorrelates the original the same way).
    Region-filtered suppliers broadcast into the offer table."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    offer = li.groupBy(
        F.col("l_partkey").alias("partkey"),
        F.col("l_suppkey").alias("suppkey"),
    ).agg(
        _sround(F.avg(F.col("l_extendedprice") / F.col("l_quantity")), 4)
        .alias("unit_cost")
    )
    europe_sup = (
        s.join(
            F.broadcast(
                n.join(
                    F.broadcast(r.where(F.col("r_name") == "EUROPE")),
                    n.n_regionkey == r.r_regionkey,
                ).select("n_nationkey", "n_name")
            ),
            s.s_nationkey == F.col("n_nationkey"),
        ).select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    joined = (
        offer.join(F.broadcast(europe_sup), F.col("suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(p.where(F.col("p_size") <= 15)),
            F.col("partkey") == F.col("p_partkey"),
        )
    )
    w = Window.partitionBy("p_partkey")
    return (
        joined.withColumn("best_cost", F.min("unit_cost").over(w))
        .where(F.col("unit_cost") == F.col("best_cost"))
        .select(
            "p_partkey", "p_name", "s_name", "n_name", "s_acctbal", "unit_cost"
        )
    )


@query(
    "q98_line_dedup",
    """
    WITH lines AS (
        SELECT doc_id, trim(line) AS line
        FROM (SELECT doc_id, unnest(string_split(text, '.')) AS line
              FROM documents)
        WHERE trim(line) <> ''
    ), freq AS (
        SELECT line, count(DISTINCT doc_id) AS n_docs
        FROM lines GROUP BY line
    )
    SELECT l.doc_id,
           count(*) AS n_lines,
           count(*) FILTER (WHERE f.n_docs >= 10) AS boilerplate_lines,
           CAST(round(CAST(count(*) FILTER (WHERE f.n_docs >= 10)
                / CAST(count(*) AS DOUBLE) AS DECIMAL(30,10)), 4) AS DOUBLE)
               AS boilerplate_ratio
    FROM lines l JOIN freq f ON l.line = f.line
    GROUP BY l.doc_id
    """,
)
def q98_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level LINE deduplication stats (the C4/RefinedWeb
    boilerplate-removal pass): split docs into sentences, count how
    many DISTINCT docs each sentence appears in, flag sentences in
    ≥10 docs as boilerplate, report the per-doc boilerplate ratio.
    Two shuffles total — one (line → doc-count) agg and one join back
    keyed on the line — both map-side combinable; the line-frequency
    table is the only cross-document state, exactly how the pass runs
    on a full web crawl."""
    d = _t(spark, sf_dir, "documents")
    lines = (
        d.select(
            "doc_id", F.explode(F.split("text", r"\.")).alias("raw")
        )
        .select("doc_id", F.trim("raw").alias("line"))
        .where(F.col("line") != "")
    )
    freq = lines.groupBy("line").agg(
        F.count_distinct("doc_id").alias("n_docs")
    )
    flagged = F.sum(F.when(F.col("n_docs") >= 10, 1).otherwise(0))
    return (
        lines.join(freq, "line")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_lines"),
            flagged.alias("boilerplate_lines"),
        )
        .select(
            "doc_id",
            "n_lines",
            "boilerplate_lines",
            _sround(
                F.col("boilerplate_lines") / F.col("n_lines").cast("double"),
                4,
            ).alias("boilerplate_ratio"),
        )
    )


@query(
    "q99_quality_filter",
    """
    WITH feat AS (
        SELECT doc_id,
               len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS n_tok,
               len(list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+')))
                   AS n_distinct_tok,
               CAST(round(CAST(
                   least(len(regexp_split_to_array(trim(text), '\\s+')) / 50.0,
                         1.0)
                   * (1.0 - length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
                          / greatest(length(text), 1))
                   AS DECIMAL(30,10)), 4) AS DOUBLE) AS quality
        FROM documents
    )
    SELECT doc_id, n_tok,
           CAST(round(CAST(n_distinct_tok / CAST(n_tok AS DOUBLE)
                AS DECIMAL(30,10)), 4) AS DOUBLE) AS diversity,
           quality,
           CASE WHEN n_tok < 10 THEN 'too_short'
                WHEN n_distinct_tok / CAST(n_tok AS DOUBLE) < 0.5
                    THEN 'repetitive'
                WHEN quality < 0.3 THEN 'low_quality'
                ELSE 'keep' END AS reason,
           (n_tok >= 10
            AND n_distinct_tok / CAST(n_tok AS DOUBLE) >= 0.5
            AND quality >= 0.3) AS kept
    FROM feat
    """,
)
def q99_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The assembled quality-filter pipeline (Gopher/C4-style rule
    stack): length gate → token-diversity gate → heuristic quality
    gate, each doc tagged with its FIRST failing rule as the audit
    reason code.  Pure per-row expressions — no shuffle at all until
    whatever downstream agg consumes the verdicts; at 100 TB this is
    a single codegen'd scan pass."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim("text")), r"\s+")
    n_tok = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    diversity = n_distinct / n_tok.cast("double")
    punct = F.length(
        F.regexp_replace(F.col("text"), r"[^.,;:!?]", "")
    ) / F.greatest(F.length(F.col("text")), F.lit(1))
    raw_tok = F.size(F.split(F.trim("text"), r"\s+"))
    quality = _sround(
        F.least(raw_tok / F.lit(50.0), F.lit(1.0)) * (F.lit(1.0) - punct), 4
    )
    feat = d.select(
        "doc_id",
        n_tok.alias("n_tok"),
        n_distinct.alias("n_distinct_tok"),
        quality.alias("quality"),
    )
    dv = F.col("n_distinct_tok") / F.col("n_tok").cast("double")
    reason = (
        F.when(F.col("n_tok") < 10, "too_short")
        .when(dv < 0.5, "repetitive")
        .when(F.col("quality") < 0.3, "low_quality")
        .otherwise("keep")
    )
    return feat.select(
        "doc_id",
        "n_tok",
        _sround(dv, 4).alias("diversity"),
        "quality",
        reason.alias("reason"),
        (
            (F.col("n_tok") >= 10) & (dv >= 0.5) & (F.col("quality") >= 0.3)
        ).alias("kept"),
    )


@query(
    "q100_tpch_q4",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1996-07-01'
      AND EXISTS (
          SELECT 1 FROM lineitem
          WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
      )
    GROUP BY o_orderpriority
    """,
)
def q100_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (order priority checking), adapted: the spec's
    l_commitdate < l_receiptdate late-delivery predicate becomes
    l_shipdate > o_orderdate (testdata carries neither commit nor
    receipt dates).  The EXISTS is a LEFT SEMI join on orderkey — the
    date-filtered orders side is small, so it broadcasts INTO the
    lineitem probe and no fact shuffle happens at all."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    o = o.where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp_ntz"))
    )
    late = o.join(
        li,
        (o.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count("*").alias("order_count")
    )


@query(
    "q101_bpe_tokens",
    """
    SELECT doc_id,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))
               AS n_bpe_tokens,
           len(regexp_split_to_array(trim(text), '\\s+')) AS n_ws_tokens,
           len(list_distinct(regexp_extract_all(lower(text),
               '[a-z]+|[0-9]+|[^a-z0-9\\s]'))) AS n_vocab
    FROM documents WHERE length(text) > 0
    """,
)
def q101_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-tokenizer token accounting (the GPT-2-style regex split:
    letter runs | digit runs | single punctuation): BPE-proxy count,
    whitespace count, and per-doc vocabulary size — the token-budget
    estimate every training-data pipeline runs before mixing.  Pure
    regexp_extract_all expressions in codegen; identical RE2/Java
    regex so the oracle executes the same automaton."""
    d = _t(spark, sf_dir, "documents")
    bpe_pat = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
    vocab_pat = r"[a-z]+|[0-9]+|[^a-z0-9\s]"
    return d.where(F.length("text") > 0).select(
        "doc_id",
        F.size(
            F.regexp_extract_all("text", F.lit(bpe_pat), F.lit(0))
        ).alias("n_bpe_tokens"),
        F.size(F.split(F.trim("text"), r"\s+")).alias("n_ws_tokens"),
        F.size(
            F.array_distinct(
                F.regexp_extract_all(
                    F.lower(F.col("text")), F.lit(vocab_pat), F.lit(0)
                )
            )
        ).alias("n_vocab"),
    )


@query(
    "q102_stream_static_join",
    """
    SELECT c_mktsegment, event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events
    JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment, event_type
    """,
)
def q102_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC dimension enrichment: events readStream joined to
    the static customer table (broadcast per micro-batch, no state
    store, no watermark on the static side) → per-segment rollup,
    drained availableNow.  Matches the batch join oracle exactly —
    the standard firehose-enrichment pattern
    (streaming/windows.py::stream_static_enrichment)."""
    from ..streaming.windows import stream_static_enrichment

    configure_session(spark)
    ckpt = tempfile.mkdtemp(prefix="ehs_sse_")
    return stream_static_enrichment(spark, sf_dir, ckpt)


@query(
    "q103_mixture_deciles",
    """
    WITH feat AS (
        SELECT doc_id, source,
               len(regexp_split_to_array(trim(text), '\\s+')) AS n_tok,
               CAST(round(CAST(
                   least(len(regexp_split_to_array(trim(text), '\\s+')) / 50.0,
                         1.0)
                   * (1.0 - length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
                          / greatest(length(text), 1))
                   AS DECIMAL(30,10)), 4) AS DOUBLE) AS quality
        FROM documents
    ), binned AS (
        SELECT source, n_tok,
               ntile(10) OVER (PARTITION BY source
                               ORDER BY quality DESC, doc_id) AS decile
        FROM feat
    )
    SELECT source, decile,
           count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS decile_tokens
    FROM binned GROUP BY source, decile
    """,
)
def q103_mixture_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture construction: rank every doc into a
    per-source quality DECILE (ntile over quality, doc_id tiebreak →
    deterministic across engines) and report each cell's doc count and
    token budget — the table a data-mixing recipe samples from
    ("source A: top 3 deciles at 2 epochs; source B: top decile
    only").  One window per source partition + a map-side rollup."""
    d = _t(spark, sf_dir, "documents")
    tok = F.size(F.split(F.trim("text"), r"\s+"))
    punct = F.length(
        F.regexp_replace(F.col("text"), r"[^.,;:!?]", "")
    ) / F.greatest(F.length(F.col("text")), F.lit(1))
    quality = _sround(
        F.least(tok / F.lit(50.0), F.lit(1.0)) * (F.lit(1.0) - punct), 4
    )
    feat = d.select(
        "doc_id", "source", tok.alias("n_tok"), quality.alias("quality")
    )
    w = Window.partitionBy("source").orderBy(
        F.col("quality").desc(), F.col("doc_id")
    )
    return (
        feat.withColumn("decile", F.ntile(10).over(w))
        .groupBy("source", "decile")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("decile_tokens"),
        )
    )


@query(
    "q104_fixed_sample",
    """
    SELECT doc_id, source, rk
    FROM (
        SELECT doc_id, source,
               row_number() OVER (PARTITION BY source
                                  ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                           doc_id) AS rk
        FROM documents
    ) WHERE rk <= 20
    """,
)
def q104_fixed_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-N-per-source deterministic sample (eval/holdout set
    construction): order each source's docs by md5(doc_id) — a
    seedless, engine-reproducible pseudo-random permutation — and keep
    the first 20.  Unlike fraction sampling (q78) the output size is
    EXACT; the per-source window tops out at N rows of state and the
    rank predicate prunes everything else before any downstream
    operator."""
    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        d.select("doc_id", "source")
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 20)
    )


@query(
    "q105_source_overlap",
    """
    WITH toks AS (
        SELECT source, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
        FROM documents
    ), sh AS (
        SELECT DISTINCT source, shingle FROM (
            SELECT source, array_to_string(t[i:i+2], ' ') AS shingle
            FROM (SELECT source, t, unnest(range(1, len(t)-1)) AS i FROM toks)
        ) WHERE shingle <> ''
    ), sizes AS (
        SELECT source, count(*) AS n FROM sh GROUP BY source
    ), shared AS (
        SELECT a.source AS source_a, b.source AS source_b, count(*) AS shared
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT source_a, source_b, shared,
           CAST(round(CAST(shared / (sa.n + sb.n - shared)
                AS DECIMAL(30,10)), 4) AS DOUBLE) AS jaccard
    FROM shared
    JOIN sizes sa ON source_a = sa.source
    JOIN sizes sb ON source_b = sb.source
    WHERE round(shared / (sa.n + sb.n - shared), 4) >= 0.01
    """,
)
def q105_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-SOURCE content overlap matrix (dataset-curation dedup at
    the corpus level: which feeds are re-crawls of each other?):
    distinct trigram vocabulary per source, then pairwise Jaccard over
    the |sources|² grid.  The heavy step — per-source distinct
    shingles — is one map-side-combinable agg over the corpus; the
    pair join is tiny because source cardinality is tiny (the shingle
    self-join emits ≤|sources|² rows per shingle).  Scales to 100 TB
    because cost is O(corpus) + O(|sources|²·vocab-overlap), never
    O(docs²)."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "source", F.split(F.lower(F.trim("text")), r"\s+").alias("t")
    ).where(F.size("t") >= 3)
    sh = (
        toks.select(
            "source",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - 2),
                    lambda i: F.concat_ws(" ", F.slice("t", i, 3)),
                )
            ).alias("shingle"),
        )
        .where(F.col("shingle") != "")
        .distinct()
    )
    sizes = sh.groupBy("source").agg(F.count("*").alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count("*").alias("shared"))
    )
    sa = sizes.select(
        F.col("source").alias("sa_src"), F.col("n").alias("na")
    )
    sb = sizes.select(
        F.col("source").alias("sb_src"), F.col("n").alias("nb")
    )
    jac = F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared"))
    return (
        shared.join(F.broadcast(sa), F.col("source_a") == F.col("sa_src"))
        .join(F.broadcast(sb), F.col("source_b") == F.col("sb_src"))
        .where(F.round(jac, 4) >= 0.01)
        .select(
            "source_a",
            "source_b",
            "shared",
            _sround(jac, 4).alias("jaccard"),
        )
    )


@query(
    "q106_doc_chunking",
    """
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
        FROM documents WHERE trim(text) <> ''
    )
    SELECT doc_id, chunk_id,
           array_to_string(t[(chunk_id * 24 + 1):(chunk_id * 24 + 32)], ' ')
               AS chunk_text,
           least(len(t) - chunk_id * 24, 32) AS chunk_tokens
    FROM (
        SELECT doc_id, t,
               unnest(range(0, CAST(ceil(greatest(len(t) - 8, 1) / 24.0)
                                    AS BIGINT))) AS chunk_id
        FROM toks
    )
    """,
)
def q106_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (the RAG/embedding prep step):
    32-token windows with 8-token overlap (stride 24), each chunk
    addressable as (doc_id, chunk_id).  Pure array arithmetic —
    sequence + transform + explode, no Python, no shuffle; chunk count
    per doc is ceil((len-overlap)/stride) so the plan's output rows
    are predictable from token counts alone."""
    d = _t(spark, sf_dir, "documents")
    size, overlap = 32, 8
    stride = size - overlap
    toks = d.where(F.trim("text") != "").select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("t")
    )
    n_chunks = F.ceil(
        F.greatest(F.size("t") - overlap, F.lit(1)) / F.lit(float(stride))
    ).cast("bigint")
    return toks.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0).cast("bigint"), n_chunks - 1)
        ).alias("chunk_id"),
        F.col("t"),
    ).select(
        "doc_id",
        "chunk_id",
        F.concat_ws(
            " ", F.slice("t", (F.col("chunk_id") * stride + 1).cast("int"), size)
        ).alias("chunk_text"),
        F.least(
            F.size("t") - F.col("chunk_id").cast("int") * stride, F.lit(size)
        ).alias("chunk_tokens"),
    )


@query(
    "q107_table_profile",
    """
    SELECT 'o_custkey' AS col, count(*) AS n_rows,
           count(o_custkey) AS n_nonnull,
           count(DISTINCT o_custkey) AS ndv,
           CAST(round(CAST(min(o_custkey) AS DECIMAL(30,10)), 4) AS DOUBLE)
               AS min_val,
           CAST(round(CAST(max(o_custkey) AS DECIMAL(30,10)), 4) AS DOUBLE)
               AS max_val
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', count(*), count(o_totalprice),
           count(DISTINCT o_totalprice),
           CAST(round(CAST(min(o_totalprice) AS DECIMAL(30,10)), 4) AS DOUBLE),
           CAST(round(CAST(max(o_totalprice) AS DECIMAL(30,10)), 4) AS DOUBLE)
    FROM orders
    """,
)
def q107_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling (the data-quality ANALYZE pass the reference's
    table_info stops short of): per-column row/non-null/distinct
    counts and value range, emitted as one row per column
    (operators/profile.py).  Exact NDV here so the oracle can verify;
    at 100 TB flip exact=False for HLL sketches — same shape, kB of
    state, one pass."""
    from ..operators.profile import profile_table

    o = _t(spark, sf_dir, "orders")
    return profile_table(o, ["o_custkey", "o_totalprice"], exact=True)


@query(
    "q108_zipf_fit",
    """
    WITH tok AS (
        SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
        FROM documents
    ), freq AS (
        SELECT token, count(*) AS cnt FROM tok WHERE token <> ''
        GROUP BY token
    ), ranked AS (
        SELECT cnt,
               row_number() OVER (ORDER BY cnt DESC, token ASC) AS rank
        FROM freq
    )
    SELECT count(*) AS n_types,
           CAST(sum(cnt) AS BIGINT) AS n_tokens,
           CAST(round(CAST(regr_slope(log2(cnt), log2(rank))
                AS DECIMAL(30,10)), 4) AS DOUBLE) AS zipf_slope,
           CAST(round(CAST(regr_intercept(log2(cnt), log2(rank))
                AS DECIMAL(30,10)), 4) AS DOUBLE) AS zipf_intercept,
           CAST(round(CAST(corr(log2(cnt), log2(rank))
                AS DECIMAL(30,10)), 4) AS DOUBLE) AS loglog_corr
    FROM ranked WHERE rank <= 1000
    """,
)
def q108_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit of the corpus vocabulary: least-squares slope of
    log-frequency vs log-rank over the top 1000 types via the
    REGRESSION AGGREGATES (regr_slope / regr_intercept / corr) — a
    natural-corpus sanity check (healthy text ≈ −1 slope, machine spam
    deviates hard).  The rank window is over the aggregated type table
    (vocabulary-sized, not corpus-sized); the regression itself is one
    mergeable aggregate — sums of products — so the whole fit is two
    map-side-combinable passes at any scale."""
    d = _t(spark, sf_dir, "documents")
    freq = (
        d.select(
            F.explode(
                F.split(F.lower(F.trim("text")), r"\s+")
            ).alias("token")
        )
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )
    # top-1000 FIRST via orderBy+limit (TakeOrderedAndProject: per-
    # partition partial top-k, no global sort), THEN rank the 1000
    # survivors — the rank window never sees the full vocabulary
    top = freq.orderBy(F.col("cnt").desc(), F.col("token").asc()).limit(1000)
    w = Window.orderBy(F.col("cnt").desc(), F.col("token").asc())
    ranked = top.withColumn("rank", F.row_number().over(w))
    lx, ly = F.log2("rank"), F.log2("cnt")
    return ranked.agg(
        F.count("*").alias("n_types"),
        F.sum("cnt").alias("n_tokens"),
        _sround(F.regr_slope(ly, lx), 4).alias("zipf_slope"),
        _sround(F.regr_intercept(ly, lx), 4).alias("zipf_intercept"),
        _sround(F.corr(ly, lx), 4).alias("loglog_corr"),
    )


@query(
    "q48_sketch_rollup",
    """
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           count(DISTINCT user_id) AS exact_users,
           true AS sketch_ok
    FROM events GROUP BY 1
    """,
)
def q48_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable DISTINCT rollup via persistable HLL sketches
    (hll_sketch_agg → hll_union_agg → hll_sketch_estimate): hourly
    user sketches union to daily WITHOUT re-scanning events — the only
    way distinct-count hierarchies work at 100 TB (count(DISTINCT)
    partials don't merge; kB sketches do, and can be stored per hour
    and re-unioned for any date range).  The gate can't compare sketch
    binaries across engines, so the query verifies itself: the daily
    sketch estimate must land within 5% of the exact count, and the
    emitted (day, exact_users, sketch_ok) row set hash-matches the
    oracle exactly."""
    e = _t(spark, sf_dir, "events")
    hourly = (
        e.select(F.date_trunc("hour", "ts").alias("hour"), "user_id")
        .groupBy("hour")
        .agg(F.hll_sketch_agg("user_id").alias("sketch"))
    )
    daily = hourly.groupBy(
        F.to_date(F.date_trunc("day", "hour")).alias("day")
    ).agg(F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("est"))
    exact = (
        e.groupBy(F.to_date(F.date_trunc("day", "ts")).alias("day"))
        .agg(F.count_distinct("user_id").alias("exact_users"))
    )
    return (
        daily.join(exact, "day")
        .select(
            "day",
            "exact_users",
            (
                F.abs(F.col("est") - F.col("exact_users"))
                / F.col("exact_users")
                <= 0.05
            ).alias("sketch_ok"),
        )
    )


@query(
    "q110_theta_set_ops",
    """
    WITH u AS (
        SELECT user_id,
               bool_or(event_type = 'view') AS v,
               bool_or(event_type = 'purchase') AS p
        FROM events
        WHERE event_type IN ('view', 'purchase')
        GROUP BY user_id
    )
    SELECT count(*) FILTER (v) AS exact_view,
           count(*) FILTER (p) AS exact_purchase,
           count(*) AS exact_union,
           count(*) FILTER (v AND p) AS exact_inter,
           count(*) FILTER (v AND NOT p) AS exact_diff,
           true AS union_ok, true AS inter_ok, true AS diff_ok
    FROM u
    """,
)
def q110_theta_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-set ALGEBRA via Theta sketches (theta_sketch_agg →
    theta_union_agg → theta_union/intersection/difference): audience
    overlap between event types without co-shuffling raw ids.  HLL can
    only union; Theta sketches also intersect and subtract, which is
    how "viewers who never purchased" is answerable at 100 TB from kB
    of pre-aggregated per-day state instead of a full re-scan (the
    per-day sketches here stand in for a persisted sketch table).
    Self-verifying like q109: each estimate must land within 5% of the
    exact count (default lgNomEntries=12 ⇒ exact below ~4k distinct),
    and the emitted exact counts + ok flags hash-match the oracle."""
    e = _t(spark, sf_dir, "events").where(
        F.col("event_type").isin("view", "purchase")
    )
    daily = e.groupBy(F.to_date("ts").alias("day"), "event_type").agg(
        F.theta_sketch_agg("user_id").alias("sk")
    )
    pair = (
        daily.groupBy("event_type")
        .agg(F.theta_union_agg("sk").alias("sk"))
        .groupBy()
        .pivot("event_type", ["view", "purchase"])
        .agg(F.first("sk"))
    )
    est = pair.select(
        F.theta_sketch_estimate(
            F.theta_union("view", "purchase")
        ).alias("est_union"),
        F.theta_sketch_estimate(
            F.theta_intersection("view", "purchase")
        ).alias("est_inter"),
        F.theta_sketch_estimate(
            F.theta_difference("view", "purchase")
        ).alias("est_diff"),
    )
    exact = (
        e.groupBy("user_id")
        .agg(
            F.max(F.col("event_type") == "view").alias("v"),
            F.max(F.col("event_type") == "purchase").alias("p"),
        )
        .agg(
            F.sum(F.col("v").cast("long")).alias("exact_view"),
            F.sum(F.col("p").cast("long")).alias("exact_purchase"),
            F.count("*").alias("exact_union"),
            F.sum((F.col("v") & F.col("p")).cast("long")).alias("exact_inter"),
            F.sum((F.col("v") & ~F.col("p")).cast("long")).alias("exact_diff"),
        )
    )

    def _ok(est_col: str, exact_col: str):
        # 5% relative + 0.5 absolute slack: a set difference can be
        # exactly empty (every viewer purchased), where relative error
        # is undefined — an empty theta sketch estimates 0.0 exactly.
        return F.abs(F.col(est_col) - F.col(exact_col)) <= (
            F.col(exact_col) * 0.05 + 0.5
        )

    return exact.crossJoin(F.broadcast(est)).select(
        "exact_view",
        "exact_purchase",
        "exact_union",
        "exact_inter",
        "exact_diff",
        _ok("est_union", "exact_union").alias("union_ok"),
        _ok("est_inter", "exact_inter").alias("inter_ok"),
        _ok("est_diff", "exact_diff").alias("diff_ok"),
    )


@query(
    "q111_kll_quantiles",
    """
    SELECT count(*) AS n_values,
           true AS p50_ok, true AS p90_ok, true AS p99_ok
    FROM events
    """,
)
def q111_kll_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable QUANTILE rollup via KLL sketches
    (kll_sketch_agg_double per hour → kll_sketch_merge_double →
    kll_sketch_get_quantile_double): exact percentiles need a full
    sort or all values on one node; KLL partials are bounded-size,
    mergeable, and carry a proven rank-error guarantee (~1.65% at the
    default k=200), so per-hour sketches persisted once answer any
    date-range percentile later — the same pattern as q109/q110 but
    for order statistics.  Self-verifying: the empirical CDF rank of
    each estimated quantile (one scan, no sort) must sit within 3% of
    its target rank; the emitted row hash-matches the oracle."""
    e = _t(spark, sf_dir, "events")
    # kll_sketch_merge_double is a binary scalar (no agg form in
    # Spark 4.1), so the rollup folds the collected hourly sketches:
    # seed = first sketch, fold the rest.  ~1 kB per sketch × hours is
    # driver-trivial even for years of hours; at larger sketch counts
    # this becomes a tree of pairwise folds.
    merged = (
        e.groupBy(F.date_trunc("hour", "ts").alias("hour"))
        .agg(F.kll_sketch_agg_double("value").alias("sk"))
        .agg(F.collect_list("sk").alias("sks"))
        .select(
            F.aggregate(
                F.slice(
                    "sks", F.lit(2), F.greatest(F.size("sks") - 1, F.lit(0))
                ),
                F.element_at("sks", 1),
                lambda acc, x: F.kll_sketch_merge_double(acc, x),
            ).alias("sk")
        )
    )
    est = merged.select(
        *[
            F.kll_sketch_get_quantile_double("sk", F.lit(p / 100.0)).alias(
                f"q{p}"
            )
            for p in (50, 90, 99)
        ]
    )
    return (
        e.crossJoin(F.broadcast(est))
        .agg(
            F.count("*").alias("n_values"),
            *[
                (
                    F.abs(
                        F.avg(
                            (F.col("value") <= F.col(f"q{p}")).cast("double")
                        )
                        - F.lit(p / 100.0)
                    )
                    <= 0.03
                ).alias(f"p{p}_ok")
                for p in (50, 90, 99)
            ],
        )
    )


@query(
    "q112_salted_join",
    """
    SELECT c_mktsegment, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def q112_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant fact×dim join via explicit salting
    (`functions/util.py::salted_join`): the fact side gets a random
    salt in [0, 16), the dim side is replicated 16×, and the shuffle
    key becomes (key, salt) — a power-law hot key's rows spread over
    16 reducers instead of hot-spotting one.  AQE's skew split handles
    moderate skew; explicit salting is the lever when ONE key exceeds
    a single task at 100 TB.  The oracle is the plain join: salting
    must be result-invariant."""
    from ..functions.util import salted_join

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    return (
        salted_join(o, c, "o_custkey", salt=16)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


@query(
    "q113_pagerank",
    """
    WITH edges AS (
        SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
               CAST(count(*) AS DOUBLE) AS w
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY 1, 2
    ), outw AS (
        SELECT src, sum(w) AS ow FROM edges GROUP BY src
    ), shares AS (
        SELECT src, dst, w / ow AS share FROM edges JOIN outw USING (src)
    ), nn AS (
        SELECT CAST(count(*) AS DOUBLE) AS n FROM nation
    ), r0 AS (
        SELECT n_nationkey AS id,
               CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS rank
        FROM nation
    ), r1 AS (
        SELECT x.n_nationkey AS id,
               CAST(round(CAST(
                   0.15 / (SELECT n FROM nn)
                   + 0.85 * coalesce(sum(r.rank * s.share), 0)
               AS DECIMAL(30,10)), 10) AS DOUBLE) AS rank
        FROM nation x
        LEFT JOIN shares s ON s.dst = x.n_nationkey
        LEFT JOIN r0 r ON r.id = s.src
        GROUP BY x.n_nationkey
    ), r2 AS (
        SELECT x.n_nationkey AS id,
               CAST(round(CAST(
                   0.15 / (SELECT n FROM nn)
                   + 0.85 * coalesce(sum(r.rank * s.share), 0)
               AS DECIMAL(30,10)), 10) AS DOUBLE) AS rank
        FROM nation x
        LEFT JOIN shares s ON s.dst = x.n_nationkey
        LEFT JOIN r1 r ON r.id = s.src
        GROUP BY x.n_nationkey
    ), r3 AS (
        SELECT x.n_nationkey AS id,
               CAST(round(CAST(
                   0.15 / (SELECT n FROM nn)
                   + 0.85 * coalesce(sum(r.rank * s.share), 0)
               AS DECIMAL(30,10)), 10) AS DOUBLE) AS rank
        FROM nation x
        LEFT JOIN shares s ON s.dst = x.n_nationkey
        LEFT JOIN r2 r ON r.id = s.src
        GROUP BY x.n_nationkey
    )
    SELECT n_name,
           CAST(round(CAST(rank AS DECIMAL(30,10)), 6) AS DOUBLE) AS rank
    FROM r3 JOIN nation ON id = n_nationkey
    """,
)
def q113_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (3 iterations, d=0.85) over the nation trade
    graph — customer nation → supplier nation, edge weight = lineitem
    count (`functions/graph.py::weighted_pagerank`).  The iterative-
    algorithm family: a driver loop over DataFrame joins, rank table
    re-joined to a persisted share table per iteration.  Cross-engine
    determinism comes from integer edge weights (IEEE-exact share
    division) + per-iteration decimal rounding of the contribution
    sums; the oracle is the same recurrence as three chained CTEs."""
    from ..functions.graph import weighted_pagerank

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .groupBy(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
        )
        .agg(F.count("*").cast("double").alias("weight"))
    )
    ranks = weighted_pagerank(
        n, edges, id_col="n_nationkey", iterations=3, damping=0.85
    )
    return ranks.join(F.broadcast(n), "n_nationkey").select(
        "n_name", _sround(F.col("rank"), 6).alias("rank")
    )


@query(
    "q46_cdc_apply",
    """
    WITH snap AS (
        SELECT user_id, value AS balance, event_type AS last_type
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY user_id ORDER BY ts DESC, event_id DESC
            ) AS rn
            FROM events WHERE ts < TIMESTAMP '2024-01-16'
        ) WHERE rn = 1
    ), unioned AS (
        SELECT user_id, balance, last_type, 'I' AS op,
               CAST(NULL AS TIMESTAMP) AS ts, CAST(NULL AS BIGINT) AS event_id
        FROM snap
        UNION ALL
        SELECT user_id, value, event_type,
               CASE WHEN event_type = 'error' THEN 'D'
                    WHEN event_type = 'signup' THEN 'I'
                    ELSE 'U' END,
               ts, event_id
        FROM events WHERE ts >= TIMESTAMP '2024-01-16'
    )
    SELECT user_id, balance, last_type
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY user_id
            ORDER BY ts DESC NULLS LAST, event_id DESC NULLS LAST
        ) AS rn
        FROM unioned
    ) WHERE rn = 1 AND op <> 'D'
    """,
)
def q46_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC feed apply (`operators/cdc.py::apply_changes`): the
    pre-cutoff latest state per user is the snapshot; post-cutoff
    events become an insert/update/delete feed ('error' deletes the
    user, 'signup' inserts, others update), sequenced by (ts,
    event_id).  One keyed window picks each user's survivor — no join
    — and users whose LAST op is a delete drop out.  The reference's
    upsert recipes (etl.py:233-339 executemany + ON CONFLICT docs)
    fold rows one at a time; this is the same contract as one shuffle."""
    from ..operators.cdc import apply_changes

    e = _t(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-16").cast("timestamp_ntz")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    snapshot = (
        e.where(F.col("ts") < cutoff)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("value").alias("balance"),
            F.col("event_type").alias("last_type"),
        )
    )
    changes = e.where(F.col("ts") >= cutoff).select(
        "user_id",
        F.col("value").alias("balance"),
        F.col("event_type").alias("last_type"),
        F.when(F.col("event_type") == "error", "D")
        .when(F.col("event_type") == "signup", "I")
        .otherwise("U")
        .alias("op"),
        "ts",
        "event_id",
    )
    return apply_changes(
        snapshot, changes, key_cols=["user_id"], seq_cols=["ts", "event_id"]
    )


@query(
    "q115_heaps_fit",
    """
    WITH tok AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
        FROM documents
    ), tok2 AS (
        SELECT doc_id, token FROM tok WHERE token <> ''
    ), per_doc AS (
        SELECT doc_id, count(*) AS toks FROM tok2 GROUP BY doc_id
    ), firsts AS (
        SELECT token, min(doc_id) AS first_doc FROM tok2 GROUP BY token
    ), newt AS (
        SELECT first_doc, count(*) AS new_types FROM firsts GROUP BY first_doc
    ), curve AS (
        SELECT p.doc_id,
               sum(p.toks) OVER (ORDER BY p.doc_id) AS cum_n,
               sum(coalesce(n.new_types, 0)) OVER (ORDER BY p.doc_id) AS cum_v
        FROM per_doc p LEFT JOIN newt n ON n.first_doc = p.doc_id
    )
    SELECT count(*) AS n_docs,
           CAST(max(cum_n) AS BIGINT) AS n_tokens,
           CAST(max(cum_v) AS BIGINT) AS vocab,
           CAST(round(CAST(regr_slope(log2(cum_v), log2(cum_n))
                AS DECIMAL(30,10)), 4) AS DOUBLE) AS heaps_beta,
           CAST(round(CAST(regr_intercept(log2(cum_v), log2(cum_n))
                AS DECIMAL(30,10)), 4) AS DOUBLE) AS heaps_log2k,
           CAST(round(CAST(corr(log2(cum_v), log2(cum_n))
                AS DECIMAL(30,10)), 4) AS DOUBLE) AS loglog_corr
    FROM curve
    """,
)
def q115_heaps_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth fit (companion to q108's Zipf fit):
    V(N) ≈ k·N^β, estimated as the log-log regression of cumulative
    vocabulary size against cumulative token count over the corpus in
    doc_id order.  The running DISTINCT count — not windowable
    directly at any scale — is re-expressed exactly as a running SUM
    of first-occurrence counts (min(doc_id) per token, then new-types
    per doc), which IS distributable: two map-side-combinable groupBys
    plus one prefix sum.  Sub-linear β (~0.4-0.6) is the natural-text
    signature; β→1 flags synthetic/near-random corpora."""
    d = _t(spark, sf_dir, "documents")
    tokens = (
        d.select(
            "doc_id",
            F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("token"),
        )
        .where(F.col("token") != "")
    )
    per_doc = tokens.groupBy("doc_id").agg(F.count("*").alias("toks"))
    new_per_doc = (
        tokens.groupBy("token")
        .agg(F.min("doc_id").alias("first_doc"))
        .groupBy("first_doc")
        .agg(F.count("*").alias("new_types"))
    )
    w = Window.orderBy("doc_id")
    curve = (
        per_doc.join(
            new_per_doc,
            per_doc.doc_id == new_per_doc.first_doc,
            "left",
        )
        .select(
            per_doc.doc_id,
            F.sum("toks").over(w).alias("cum_n"),
            F.sum(F.coalesce("new_types", F.lit(0))).over(w).alias("cum_v"),
        )
    )
    lx, ly = F.log2("cum_n"), F.log2("cum_v")
    return curve.agg(
        F.count("*").alias("n_docs"),
        F.max("cum_n").alias("n_tokens"),
        F.max("cum_v").alias("vocab"),
        _sround(F.regr_slope(ly, lx), 4).alias("heaps_beta"),
        _sround(F.regr_intercept(ly, lx), 4).alias("heaps_log2k"),
        _sround(F.corr(ly, lx), 4).alias("loglog_corr"),
    )


@query(
    "q116_skew_profile",
    """
    WITH c1 AS (
        SELECT o_custkey AS k, count(*) AS cnt FROM orders GROUP BY 1
    ), c2 AS (
        SELECT l_partkey AS k, count(*) AS cnt FROM lineitem GROUP BY 1
    )
    SELECT 'o_custkey' AS col, count(*) AS n_keys,
           CAST(sum(cnt) AS BIGINT) AS n_rows, max(cnt) AS max_cnt,
           CAST(round(CAST(avg(cnt) AS DECIMAL(30,10)), 4) AS DOUBLE)
               AS avg_cnt,
           CAST(round(CAST(quantile_cont(cnt, 0.99) AS DECIMAL(30,10)), 4)
               AS DOUBLE) AS p99_cnt,
           CAST(round(CAST(max(cnt) / CAST(sum(cnt) AS DOUBLE)
               AS DECIMAL(30,10)), 6) AS DOUBLE) AS top1_share,
           CAST(round(CAST(max(cnt) / avg(cnt) AS DECIMAL(30,10)), 4)
               AS DOUBLE) AS skew_ratio
    FROM c1
    UNION ALL
    SELECT 'l_partkey', count(*), CAST(sum(cnt) AS BIGINT), max(cnt),
           CAST(round(CAST(avg(cnt) AS DECIMAL(30,10)), 4) AS DOUBLE),
           CAST(round(CAST(quantile_cont(cnt, 0.99) AS DECIMAL(30,10)), 4)
               AS DOUBLE),
           CAST(round(CAST(max(cnt) / CAST(sum(cnt) AS DOUBLE)
               AS DECIMAL(30,10)), 6) AS DOUBLE),
           CAST(round(CAST(max(cnt) / avg(cnt) AS DECIMAL(30,10)), 4)
               AS DOUBLE)
    FROM c2
    """,
)
def q116_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profiling (`operators/profile.py::join_key_skew`):
    the pre-flight measurement that picks the shuffle strategy for a
    100 TB join — skew_ratio ≈ 1 ⇒ plain hash partitioning; a hot
    key's share × table size over one task's capacity ⇒ AQE skew-split
    or explicit salting (q112).  One map-side-combinable groupBy per
    key; the stats aggregate sees key counts, not rows."""
    from ..operators.profile import join_key_skew

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return join_key_skew(o, "o_custkey").unionByName(
        join_key_skew(li, "l_partkey")
    )


@query(
    "q117_value_histogram",
    """
    WITH b AS (
        SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
        FROM lineitem
    )
    SELECT LEAST(CAST(FLOOR((l_extendedprice - lo) / ((hi - lo) / 10.0))
               AS BIGINT), 9) AS bucket,
           count(*) AS n,
           CAST(round(CAST(min(l_extendedprice) AS DECIMAL(30,10)), 2)
               AS DOUBLE) AS bucket_min,
           CAST(round(CAST(max(l_extendedprice) AS DECIMAL(30,10)), 2)
               AS DOUBLE) AS bucket_max
    FROM lineitem, b
    GROUP BY 1
    """,
)
def q117_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram (10 buckets) over l_extendedprice: the
    min/max bounds come from a 1-row scalar aggregate broadcast into a
    second scan pass, bucket assignment is pure arithmetic in codegen,
    and the histogram itself is a 10-group map-side-combinable
    aggregate — two linear passes total, the standard profile-pass
    shape at any scale.  Bucket edges are IEEE-deterministic (same
    doubles → same floor) so both engines bin identically."""
    li = _t(spark, sf_dir, "lineitem")
    bounds = li.agg(
        F.min("l_extendedprice").alias("lo"),
        F.max("l_extendedprice").alias("hi"),
    )
    width = (F.col("hi") - F.col("lo")) / F.lit(10.0)
    return (
        li.crossJoin(F.broadcast(bounds))
        .select(
            F.least(
                F.floor((F.col("l_extendedprice") - F.col("lo")) / width)
                .cast("bigint"),
                F.lit(9).cast("bigint"),
            ).alias("bucket"),
            "l_extendedprice",
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            _sround(F.min("l_extendedprice"), 2).alias("bucket_min"),
            _sround(F.max("l_extendedprice"), 2).alias("bucket_max"),
        )
    )


@query(
    "q118_tpch_q11_share",
    """
    WITH pv AS (
        SELECT l_partkey,
               CAST(round(CAST(sum(l_extendedprice * (1 - l_discount))
                    AS DECIMAL(30,10)), 4) AS DOUBLE) AS value
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        WHERE n_name IN ('NATION_1', 'NATION_2')
        GROUP BY l_partkey
    ), tot AS (
        SELECT sum(value) AS total FROM pv
    )
    SELECT l_partkey,
           value
    FROM pv, tot
    WHERE value > total * 0.001
    """,
)
def q118_tpch_q11_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 adapted (no partsupp in the testdata: part 'stock
    value' proxied by lineitem revenue through NATION_1/NATION_2
    suppliers).  The shape is the point: a grouped aggregate compared
    against a SCALAR FRACTION OF ITS OWN TOTAL — the total is a 1-row
    re-aggregate of the (already small) per-part table broadcast back
    as a cross join, so the fact table is scanned ONCE.  Per-part
    values are decimal-rounded before totalling so the threshold
    comparison is engine-deterministic."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    pv = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(
            F.broadcast(n.where(F.col("n_name").isin("NATION_1", "NATION_2"))),
            s.s_nationkey == n.n_nationkey,
        )
        .groupBy("l_partkey")
        .agg(
            _sround(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("value")
        )
    )
    tot = pv.agg(F.sum("value").alias("total"))
    return (
        pv.crossJoin(F.broadcast(tot))
        .where(F.col("value") > F.col("total") * 0.001)
        .select("l_partkey", "value")
    )


@query(
    "q119_tpch_q21_waiting",
    """
    WITH ls AS (
        SELECT l_orderkey, l_suppkey,
               max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                        THEN 1 ELSE 0 END) AS late
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY l_orderkey, l_suppkey
    ), per_order AS (
        SELECT l_orderkey, count(*) AS n_supps, sum(late) AS n_late
        FROM ls GROUP BY l_orderkey
    )
    SELECT s_name, count(*) AS numwait
    FROM ls
    JOIN per_order USING (l_orderkey)
    JOIN supplier ON l_suppkey = s_suppkey
    WHERE late = 1 AND n_supps >= 2 AND n_late = 1
    GROUP BY s_name
    """,
)
def q119_tpch_q21_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 adapted (no commitdate/receiptdate: 'late' :=
    shipped >60 days after the order date).  The original's
    EXISTS / NOT-EXISTS pair over sibling lineitems decorrelates into
    per-(order, supplier) flags + one per-order aggregate: the sole
    late supplier on a multi-supplier order is blamed.  Two co-keyed
    shuffles on l_orderkey replace a double correlated sub-scan of the
    fact table — the decorrelation that matters at 100 TB.  All-integer
    logic: engine-deterministic with no rounding."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    ls = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.max(
                F.when(
                    F.col("l_shipdate")
                    > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY"),
                    1,
                ).otherwise(0)
            ).alias("late")
        )
    )
    per_order = ls.groupBy("l_orderkey").agg(
        F.count("*").alias("n_supps"), F.sum("late").alias("n_late")
    )
    return (
        ls.join(per_order, "l_orderkey")
        .where(
            (F.col("late") == 1)
            & (F.col("n_supps") >= 2)
            & (F.col("n_late") == 1)
        )
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )


@query(
    "q08b_ann_recall",
    """
    WITH bf AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(
                       q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                       c.vec_id ASC
               ) AS rank,
               round(list_cosine_similarity(
                   q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 4) AS sim
        FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        WHERE q.vec_id < 10
    )
    SELECT count(DISTINCT query_id) AS n_queries,
           count(*) FILTER (rank <= 5) AS n_truth,
           CAST(round(CAST(avg(sim) FILTER (rank = 1)
                AS DECIMAL(30,10)), 4) AS DOUBLE) AS avg_top1_sim,
           true AS recall_ok
    FROM bf
    """,
)
def q08b_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality gate: IVF (nlist=16, nprobe=4) recall@5 measured
    against the exact brute-force ground truth in the same plan.  The
    oracle recomputes the ground-truth side (top-1 similarity average
    + truth-set size) — so the exact kernel is hash-verified — while
    recall_ok self-verifies the approximate path: IVF must recover
    ≥80% of the true top-5 (measured 0.92-1.0 here; random-vector
    neighbors still co-assign to pivots because pivot assignment IS
    cosine proximity).  This is the eval loop a production ANN index
    ships with: exact on a query sample, approximate everywhere."""
    from ..functions.similarity import ivf_topk

    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 10)
    bf = brute_force_topk(q, e, k=5)
    ivf = ivf_topk(q, e, k=5, nlist=16, nprobe=4).select(
        "query_id", "neighbor_id"
    )
    return _recall_gate(bf, ivf)


@query(
    "q121_wkt_geo",
    """
    WITH pts AS (
        SELECT s_suppkey,
               CAST((s_suppkey * 97) % 360 - 180 AS DOUBLE)
                   + CAST((s_suppkey * 104729) % 1000 AS DOUBLE) / 1000.0
                   AS lon,
               CAST((s_suppkey * 53) % 170 - 85 AS DOUBLE)
                   + CAST((s_suppkey * 99991) % 1000 AS DOUBLE) / 1000.0
                   AS lat
        FROM supplier
    ), wkt AS (
        SELECT s_suppkey,
               'POINT(' || CAST(lon AS VARCHAR) || ' '
                        || CAST(lat AS VARCHAR) || ')' AS geom
        FROM pts
    ), parsed AS (
        SELECT s_suppkey,
               CAST(regexp_extract(geom,
                   'POINT\\(([-0-9.]+) ([-0-9.]+)\\)', 1) AS DOUBLE) AS lon,
               CAST(regexp_extract(geom,
                   'POINT\\(([-0-9.]+) ([-0-9.]+)\\)', 2) AS DOUBLE) AS lat
        FROM wkt
    )
    SELECT s_suppkey, lon, lat,
           CAST(round(CAST(
               12742.0 * asin(sqrt(
                   pow(sin(radians(lat - 48.8566) / 2), 2)
                   + cos(radians(48.8566)) * cos(radians(lat))
                     * pow(sin(radians(lon - 2.3522) / 2), 2)
               ))
           AS DECIMAL(30,10)), 2) AS DOUBLE) AS km_to_paris
    FROM parsed
    WHERE lon BETWEEN -40 AND 60 AND lat BETWEEN 20 AND 75
    """,
)
def q121_wkt_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WKT geometry pass-through (the reference's spatial recipe,
    docs/recipes/spatial_etl.rst: geometries travel as WKT text and
    the spatial functions run in the engine).  Deterministic
    coordinates derived from supplier keys are rendered to
    'POINT(lon lat)', parsed BACK with a codegen regexp (proving the
    round-trip), bbox-filtered — sargable, pushable — and ranked by
    haversine distance, all JVM-side arithmetic.  Spark-first spatial:
    WKT as strings + math in codegen covers point workloads without a
    UDF; full geometry ops belong to sedona-style extensions."""
    s = _t(spark, sf_dir, "supplier")
    pts = s.select(
        "s_suppkey",
        (
            ((F.col("s_suppkey") * 97) % 360 - 180).cast("double")
            + ((F.col("s_suppkey") * 104729) % 1000).cast("double") / 1000.0
        ).alias("lon"),
        (
            ((F.col("s_suppkey") * 53) % 170 - 85).cast("double")
            + ((F.col("s_suppkey") * 99991) % 1000).cast("double") / 1000.0
        ).alias("lat"),
    )
    wkt = pts.select(
        "s_suppkey",
        F.concat(
            F.lit("POINT("),
            F.col("lon").cast("string"),
            F.lit(" "),
            F.col("lat").cast("string"),
            F.lit(")"),
        ).alias("geom"),
    )
    pat = r"POINT\(([-0-9.]+) ([-0-9.]+)\)"
    parsed = wkt.select(
        "s_suppkey",
        F.regexp_extract("geom", pat, 1).cast("double").alias("lon"),
        F.regexp_extract("geom", pat, 2).cast("double").alias("lat"),
    )
    lat0, lon0 = 48.8566, 2.3522
    hav = 12742.0 * F.asin(
        F.sqrt(
            F.pow(F.sin(F.radians(F.col("lat") - lat0) / 2), 2)
            + F.cos(F.radians(F.lit(lat0)))
            * F.cos(F.radians(F.col("lat")))
            * F.pow(F.sin(F.radians(F.col("lon") - lon0) / 2), 2)
        )
    )
    return (
        parsed.where(
            F.col("lon").between(-40, 60) & F.col("lat").between(20, 75)
        )
        .select(
            "s_suppkey",
            "lon",
            "lat",
            _sround(hav, 2).alias("km_to_paris"),
        )
    )


@query(
    "q122_table_checksum",
    """
    WITH h AS (
        SELECT CAST('0x' || substr(md5(
                   CAST(o_orderkey AS VARCHAR) || '|' ||
                   CAST(o_custkey AS VARCHAR) || '|' ||
                   coalesce(o_orderstatus, '<NULL>')
               ), 1, 15) AS BIGINT) % 2147483647 AS rh,
               o_orderkey
        FROM orders
    ), a AS (
        SELECT count(*) AS n_rows, CAST(sum(rh) % 2147483647 AS BIGINT) AS checksum FROM h
    ), b AS (
        -- the 'destination copy' with one row mutated
        SELECT count(*) AS n_rows,
               CAST(sum(CASE WHEN o_orderkey = 1
                        THEN CAST('0x' || substr(md5(
                            CAST(o_orderkey AS VARCHAR) || '|' ||
                            CAST(o_custkey AS VARCHAR) || '|' || 'X'
                        ), 1, 15) AS BIGINT) % 2147483647
                        ELSE rh2 END) % 2147483647 AS BIGINT) AS checksum
        FROM (
            SELECT o_orderkey, o_custkey,
                   CAST('0x' || substr(md5(
                       CAST(o_orderkey AS VARCHAR) || '|' ||
                       CAST(o_custkey AS VARCHAR) || '|' ||
                       coalesce(o_orderstatus, '<NULL>')
                   ), 1, 15) AS BIGINT) % 2147483647 AS rh2
            FROM orders
        )
    )
    SELECT a.n_rows AS src_rows, b.n_rows AS dest_rows,
           a.checksum AS src_checksum,
           (a.checksum = b.checksum) AS copies_match
    FROM a, b
    """,
)
def q122_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy reconciliation (`operators/profile.py::table_checksum`):
    an order-insensitive modular sum of per-row md5 hashes — ONE
    map-side-combinable aggregate, identical under any partitioning,
    comparable across engines.  Validating a 100 TB copy becomes a
    scalar comparison instead of a sorted row diff.  The query
    checksums orders, then a simulated destination copy with one
    mutated row, and must detect the mismatch; the oracle recomputes
    both checksums independently in DuckDB (md5 is engine-identical)."""
    from ..operators.profile import table_checksum

    o = _t(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_custkey", "o_orderstatus"]
    src = table_checksum(o, cols)
    mutated = o.withColumn(
        "o_orderstatus",
        F.when(F.col("o_orderkey") == 1, F.lit("X")).otherwise(
            F.col("o_orderstatus")
        ),
    )
    dest = table_checksum(mutated, cols)
    return (
        src.select(
            F.col("n_rows").alias("src_rows"),
            F.col("checksum").alias("src_checksum"),
        )
        .crossJoin(
            F.broadcast(
                dest.select(
                    F.col("n_rows").alias("dest_rows"),
                    F.col("checksum").alias("dest_checksum"),
                )
            )
        )
        .select(
            "src_rows",
            "dest_rows",
            "src_checksum",
            (F.col("src_checksum") == F.col("dest_checksum")).alias(
                "copies_match"
            ),
        )
    )


@query(
    "q123_decay_score",
    """
    WITH mx AS (
        SELECT CAST(max(date_trunc('day', ts)) AS DATE) AS max_day
        FROM events
    )
    SELECT user_id,
           count(*) AS n_events,
           CAST(round(CAST(
               sum(value * pow(0.9, date_diff('day',
                   CAST(date_trunc('day', ts) AS DATE), max_day)))
           AS DECIMAL(30,10)), 4) AS DOUBLE) AS decayed_value
    FROM events, mx
    GROUP BY user_id
    """,
)
def q123_decay_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted activity score (exponential time decay,
    half-life ≈ 6.6 days): Σ value·0.9^(days before the corpus's last
    day), the standard freshness feature for ranking/training-data
    weighting.  No window and no state: the decay anchor is a 1-row
    scalar max broadcast into the scan, so the whole feature is one
    map-side-combinable aggregate — at 100 TB this is the same cost
    as a plain per-user sum.  Integer exponents keep pow deterministic
    enough for the decimal-rounded hash comparison."""
    e = _t(spark, sf_dir, "events")
    mx = e.agg(F.to_date(F.max(F.date_trunc("day", "ts"))).alias("max_day"))
    return (
        e.crossJoin(F.broadcast(mx))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            _sround(
                F.sum(
                    F.col("value")
                    * F.pow(
                        F.lit(0.9),
                        F.datediff(
                            F.col("max_day"),
                            F.to_date(F.date_trunc("day", "ts")),
                        ),
                    )
                ),
                4,
            ).alias("decayed_value"),
        )
    )


@query(
    "q124_try_functions",
    """
    WITH dirty AS (
        SELECT event_type, value,
               CAST(json_extract_string(props, '$.k') AS INT) AS k,
               CASE WHEN CAST(json_extract_string(props, '$.k') AS INT) % 7 = 0
                        THEN 'N/A'
                    WHEN CAST(json_extract_string(props, '$.k') AS INT) % 5 = 0
                        THEN json_extract_string(props, '$.k') || 'x'
                    ELSE json_extract_string(props, '$.k') END AS raw
        FROM events
    )
    SELECT event_type,
           count(*) AS n_rows,
           count(TRY_CAST(raw AS INTEGER)) AS n_parsed,
           count(*) - count(TRY_CAST(raw AS INTEGER)) AS n_unparseable,
           CAST(round(CAST(avg(value / NULLIF(k - 30, 0))
                AS DECIMAL(30,10)), 4) AS DOUBLE) AS avg_safe_ratio
    FROM dirty
    GROUP BY event_type
    """,
)
def q124_try_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-tolerant ingestion under ANSI mode (Spark 4 default): the
    `try_` function family turns per-row failures into NULLs instead
    of job aborts — the behavior a dirty-data pipeline needs, and the
    distributed analogue of the reference's row-level `on_error`
    dead-lettering (etl.py:342-365): bad rows are COUNTED and skipped,
    never fatal.  Synthesized junk ('N/A', '69x') exercises try_cast;
    try_divide survives the k=30 divide-by-zero rows that plain ANSI
    division would abort the whole 100 TB job on."""
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    dirty = e.select(
        "event_type",
        "value",
        k.alias("k"),
        F.when(k % 7 == 0, F.lit("N/A"))
        .when(k % 5 == 0, F.concat(k.cast("string"), F.lit("x")))
        .otherwise(k.cast("string"))
        .alias("raw"),
    )
    return dirty.groupBy("event_type").agg(
        F.count("*").alias("n_rows"),
        F.count(F.col("raw").try_cast("int")).alias("n_parsed"),
        (
            F.count("*") - F.count(F.col("raw").try_cast("int"))
        ).alias("n_unparseable"),
        _sround(
            F.avg(F.try_divide(F.col("value"), F.col("k") - 30)), 4
        ).alias("avg_safe_ratio"),
    )


@query(
    "q125_triangle_count",
    """
    WITH e AS (
        SELECT DISTINCT
               least(c.c_nationkey, s.s_nationkey) AS a,
               greatest(c.c_nationkey, s.s_nationkey) AS b
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        WHERE c.c_nationkey <> s.s_nationkey
    )
    SELECT count(*) AS n_triangles,
           (SELECT count(*) FROM e) AS n_edges
    FROM e e1
    JOIN e e2 ON e2.a = e1.b
    JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    """,
)
def q125_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the undirected nation-trade graph — the
    canonical multiway self-join.  Edges are canonicalized a<b, so
    each triangle {x,y,z} is counted exactly once as (a<b<c): the
    ordering constraint is THE classic trick that cuts the join's
    intermediate size 6× and bounds skew by degree rather than
    degree².  At real graph scale the first join shuffles on the edge
    endpoint and the closing edge lookup co-partitions on (a,b) —
    no step is ever quadratic in |V|."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    e = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .where(F.col("c_nationkey") != F.col("s_nationkey"))
        .select(
            F.least("c_nationkey", "s_nationkey").alias("a"),
            F.greatest("c_nationkey", "s_nationkey").alias("b"),
        )
        .distinct()
        .persist()
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.a") == F.col("e1.b"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a"))
            & (F.col("e3.b") == F.col("e2.b")),
        )
        .agg(F.count("*").alias("n_triangles"))
    )
    edges = e.agg(F.count("*").alias("n_edges"))
    # materialize the two one-row aggregates eagerly so the edge cache
    # releases before returning (the package-wide persist-release
    # sweep, VERDICT r9) — the caller gets bounded literal results
    out = tri.crossJoin(F.broadcast(edges)).localCheckpoint()
    e.unpersist()
    return out


@query(
    "q126_streaming_dedup",
    """
    SELECT event_id, user_id, event_type,
           round(value, 4) AS value
    FROM events
    """,
)
def q126_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-batch streaming deduplication
    (`streaming/windows.py::streaming_dedup_events`):
    dropDuplicatesWithinWatermark keeps dedup state only for the
    watermark horizon, so exact dedup works on an UNBOUNDED stream
    with bounded state — the streaming form of q23.  The testdata's
    event_ids are already unique, so the drained availableNow result
    must equal the raw table row-for-row; the oracle is that batch
    identity, which pins the whole readStream→watermark→dedup→sink
    path (including the nanos→ntz timestamp restoration) to batch
    semantics."""
    from ..streaming.windows import streaming_dedup_events

    configure_session(spark)
    ckpt = tempfile.mkdtemp(prefix="ehs_sdedup_")
    out = streaming_dedup_events(spark, sf_dir, ckpt)
    return out.select(
        "event_id",
        "user_id",
        "event_type",
        F.round("value", 4).alias("value"),
    )


@query(
    "q127_nested_structs",
    """
    WITH packed AS (
        SELECT o_custkey,
               list_sort(list({'p': o_totalprice, 'k': o_orderkey}))
                   AS orders_sorted
        FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey,
           list_transform(
               list_reverse(
                   orders_sorted[greatest(len(orders_sorted) - 2, 1)
                                 :len(orders_sorted)]
               ),
               x -> x.k
           ) AS top3_orderkeys,
           round(orders_sorted[len(orders_sorted)].p, 2) AS top_price
    FROM packed
    """,
)
def q127_nested_structs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested complex-type manipulation: per-customer order history
    packed into an ARRAY OF STRUCTS, sorted field-wise (price, key),
    sliced to the top 3, projected back to scalars — all inside
    whole-stage codegen, no window and no second shuffle: the sort is
    per-array (bounded by a customer's order count), which at 100 TB
    beats a row_number window whenever the per-key cardinality is
    small, because nothing is ranked globally.  Struct comparison
    semantics (field-wise, ties broken by the next field) match across
    engines, which the oracle verifies."""
    o = _t(spark, sf_dir, "orders")
    packed = o.groupBy("o_custkey").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("o_totalprice").alias("p"),
                    F.col("o_orderkey").alias("k"),
                )
            )
        ).alias("orders_sorted")
    )
    n = F.size("orders_sorted")
    top3 = F.reverse(F.slice("orders_sorted", F.greatest(n - 2, F.lit(1)), 3))
    return packed.select(
        "o_custkey",
        F.transform(top3, lambda x: x["k"]).alias("top3_orderkeys"),
        F.round(F.element_at("orders_sorted", -1)["p"], 2).alias("top_price"),
    )


_RECURSIVE_REACH_SQL = """
    WITH RECURSIVE edges AS (
        SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        WHERE c.c_nationkey <> s.s_nationkey
    ), reach(id, hops) AS (
        SELECT CAST(0 AS BIGINT) AS id, 0 AS hops
        UNION ALL
        SELECT e.dst, r.hops + 1
        FROM reach r JOIN edges e ON e.src = r.id
        WHERE r.hops < 2
    )
    SELECT id, min(hops) AS hops, count(*) AS n_paths
    FROM reach GROUP BY id
"""


@query("q128_recursive_cte", _RECURSIVE_REACH_SQL)
def q128_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4's WITH RECURSIVE): BFS reachability from
    nation 0 over the directed trade graph, capped at 2 hops —
    shortest hop count and path multiplicity per reachable nation.
    The SAME SQL text runs on both engines: Catalyst executes the
    recursion as iterated union steps until the increment is empty
    (each step one co-keyed join against the frontier), the loop-free
    declarative form of q113's driver loop.  Depth caps bound the
    blow-up on dense graphs; at 100 TB the frontier join partitions on
    the edge source like any equi-join."""
    for t in ("lineitem", "orders", "customer", "supplier"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_RECURSIVE_REACH_SQL)


@query(
    "q129_sql_udf",
    """
    SELECT CASE WHEN l_discount < 0.03 THEN 'low'
                WHEN l_discount < 0.07 THEN 'mid'
                ELSE 'high' END AS band,
           count(*) AS n,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    GROUP BY 1
    """,
)
def q129_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative SQL UDF (Spark 4 CREATE FUNCTION … RETURN expr):
    unlike Python UDFs, the body is INLINED into the plan by Catalyst
    — full codegen, pushdown through it, zero Python workers — so
    shared business logic (banding, normalization) is reusable without
    the serialization tax.  The oracle applies the same expression
    inline, proving the UDF call compiled away."""
    li = _t(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("lineitem")
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION discount_band(d DOUBLE)
        RETURNS STRING
        RETURN CASE WHEN d < 0.03 THEN 'low'
                    WHEN d < 0.07 THEN 'mid'
                    ELSE 'high' END
        """
    )
    return spark.sql(
        """
        SELECT discount_band(l_discount) AS band,
               count(*) AS n,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        GROUP BY 1
        """
    )


@query(
    "q130_pipe_syntax",
    """
    SELECT l_returnflag, l_linestatus,
           count(*) AS n,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1998-03-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q130_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4 `|>` operators): the linear
    FROM → WHERE → AGGREGATE dataflow form.  Same Catalyst plan as the
    nested form — filters still push to the scan — but composable
    top-to-bottom like the DataFrame API; the oracle is the classic
    formulation of the identical query."""
    li = _t(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        FROM lineitem
        |> WHERE l_shipdate >= TIMESTAMP '1998-03-01'
        |> AGGREGATE count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
           GROUP BY l_returnflag, l_linestatus
        """
    )


_LATERAL_SQL = """
    SELECT c.c_custkey, c.c_mktsegment,
           t2.o_orderkey, round(t2.o_totalprice, 2) AS o_totalprice
    FROM customer c, LATERAL (
        SELECT o_orderkey, o_totalprice
        FROM orders o
        WHERE o.o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey ASC
        LIMIT 2
    ) t2
    WHERE c.c_custkey < 100
"""


@query("q131_lateral_join", _LATERAL_SQL)
def q131_lateral_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with per-row ORDER BY + LIMIT (the
    SQL-standard form of per-key top-k): identical SQL text on both
    engines.  Catalyst DECORRELATES the lateral into a window/rank
    over a single co-keyed join rather than executing the subquery per
    outer row — the difference between one shuffle and |customers|
    scans at 100 TB.  Complements q04 (explicit window) and q127
    (array sort): three formulations, one physical strategy."""
    for t in ("customer", "orders"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_LATERAL_SQL)


_NOT_IN_SQL = """
    SELECT
        (SELECT count(*) FROM supplier
         WHERE s_nationkey NOT IN
             (SELECT n_nationkey FROM nation WHERE n_nationkey < 10)
        ) AS plain_not_in,
        (SELECT count(*) FROM supplier
         WHERE s_nationkey NOT IN
             (SELECT CASE WHEN n_nationkey = 5 THEN NULL
                          ELSE n_nationkey END
              FROM nation WHERE n_nationkey < 10)
        ) AS null_poisoned_not_in,
        (SELECT count(*) FROM supplier s
         WHERE NOT EXISTS
             (SELECT 1 FROM nation
              WHERE n_nationkey < 10 AND n_nationkey = s.s_nationkey)
        ) AS not_exists
"""


@query("q132_not_in_semantics", _NOT_IN_SQL)
def q132_not_in_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-valued NOT IN semantics, pinned: one NULL in the subquery
    list makes NOT IN never-true (x <> NULL is UNKNOWN), so the
    poisoned count MUST be 0 while the NOT EXISTS formulation — which
    ignores NULLs — still returns the real complement.  Catalyst plans
    NOT IN as null-aware anti join (a broadcast existence check with
    the null fast-path) vs plain left-anti for NOT EXISTS; both
    engines execute the identical SQL text.  This is the
    dirty-dimension trap that silently empties 100 TB exclusion
    filters — the engine must get it right, and pipelines should
    prefer NOT EXISTS."""
    for t in ("supplier", "nation"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_NOT_IN_SQL)


_GROUP_BY_ALL_SQL = """
    SELECT n.n_name, r.r_name,
           count(*) AS n_suppliers,
           round(sum(s.s_acctbal), 2) AS total_acctbal
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ALL
"""


@query("q133_group_by_all", _GROUP_BY_ALL_SQL)
def q133_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL (infer grouping keys from the non-aggregate select
    list) — identical SQL text on both engines; the analyzer resolves
    it to the explicit grouping, so the plan is byte-for-byte the
    classic hash aggregate.  Pure SQL-surface parity: the modern
    dialect users write today runs unmodified."""
    for t in ("supplier", "nation", "region"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_GROUP_BY_ALL_SQL)


@query(
    "q134_session_window_batch",
    """
    WITH marked AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN ts - lag(ts) OVER w >= INTERVAL 10 MINUTE
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
        SELECT user_id, value,
               sum(new_s) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING
               ) AS sid
        FROM marked
    )
    SELECT user_id,
           CAST(max(sid) + 1 AS BIGINT) AS n_sessions,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM sess GROUP BY user_id
    """,
)
def q134_session_window_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch `session_window` (the built-in Spark session assignment,
    usable outside streaming) verified against the CLASSIC
    gaps-and-islands SQL (lag → new-session flag → cumulative sum):
    two utterly different formulations must place every event in the
    same 10-minute-gap session.  The built-in is one expression + one
    keyed aggregate — no window function pass at all — which at 100 TB
    replaces two full window sorts with a single shuffle."""
    e = _t(spark, sf_dir, "events")
    per_session = (
        e.groupBy(F.session_window("ts", "10 minutes"), "user_id")
        .agg(
            F.count("*").alias("ev"),
            F.sum("value").alias("val"),
        )
    )
    return per_session.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        F.sum("ev").alias("n_events"),
        F.round(F.sum("val"), 2).alias("total_value"),
    )


@query(
    "q135_collation",
    """
    SELECT lower(CASE WHEN event_id % 2 = 0 THEN upper(event_type)
                      ELSE event_type END) AS et,
           count(*) AS n,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY 1
    """,
)
def q135_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collated grouping (Spark 4 STRING COLLATE UTF8_LCASE): rows
    whose keys differ only by case — synthesized here by upper-casing
    half the events — hash-aggregate into ONE group natively, no
    normalization expression in the aggregation key.  Collation rides
    the type, so every downstream comparison/join/sort inherits it;
    the oracle proves equivalence with explicit lower()
    normalization.  At 100 TB, collation-aware grouping avoids
    materializing a second normalized key column across the shuffle."""
    e = _t(spark, sf_dir, "events")
    mixed = e.select(
        F.when(
            F.col("event_id") % 2 == 0, F.upper("event_type")
        )
        .otherwise(F.col("event_type"))
        .alias("et_raw"),
        "value",
    )
    collated = mixed.select(
        F.expr("CAST(et_raw AS STRING COLLATE UTF8_LCASE)").alias("et"),
        "value",
    )
    return (
        collated.groupBy("et")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.lower(F.col("et")).cast("string").alias("et"),
            "n",
            "total_value",
        )
    )


@query(
    "q136_ewma",
    """
    WITH ordered AS (
        SELECT user_id,
               list_transform(
                   list_sort(list({'t': ts, 'e': event_id, 'v': value})),
                   s -> s.v
               ) AS vals
        FROM events GROUP BY user_id
    )
    SELECT user_id,
           len(vals) AS n_events,
           CAST(round(CAST(
               list_reduce(vals, (acc, x) -> 0.2 * x + 0.8 * acc)
           AS DECIMAL(30,10)), 6) AS DOUBLE) AS ewma
    FROM ordered
    """,
)
def q136_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-weighted moving average (α=0.2) over the
    time-ordered event stream — the sequential recurrence that has NO
    window-function form (each state depends on the previous).  It
    folds per-key: collect the ordered values, reduce with the
    recurrence in a higher-order function — one shuffle, fold bounded
    by per-key cardinality, entirely JVM-side codegen.  The naive
    closed form Σ x_i·(1-α)^(n-i) overflows (0.8^-400 ≈ 1e38) — the
    fold is also the numerically sane formulation.  Both engines run
    the identical left fold, so the doubles match bit-for-bit before
    the safety rounding."""
    e = _t(spark, sf_dir, "events")
    ordered = e.groupBy("user_id").agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("ts").alias("t"),
                        F.col("event_id").alias("e"),
                        F.col("value").alias("v"),
                    )
                )
            ),
            lambda s: s["v"],
        ).alias("vals")
    )
    n = F.size("vals")
    return ordered.select(
        "user_id",
        n.alias("n_events"),
        _sround(
            F.aggregate(
                F.slice("vals", F.lit(2), F.greatest(n - 1, F.lit(0))),
                F.element_at("vals", 1),
                lambda acc, x: F.lit(0.2) * x + F.lit(0.8) * acc,
            ),
            6,
        ).alias("ewma"),
    )


@query(
    "q137_unigram_surprisal",
    """
    WITH toks AS (
        SELECT doc_id AS id, tok
        FROM (
            SELECT doc_id,
                   unnest(regexp_split_to_array(trim(lower(text)), '\\s+'))
                       AS tok
            FROM documents
        ) WHERE tok <> ''
    ), freq AS (
        SELECT tok, count(*) AS c FROM toks GROUP BY tok
    ), total AS (
        SELECT CAST(sum(c) AS DOUBLE) AS n_total FROM freq
    )
    SELECT id, count(*) AS n_tokens,
           CAST(round(CAST(avg(-log2(CAST(c AS DOUBLE) / n_total))
                AS DECIMAL(30,10)), 4) AS DOUBLE) AS mean_surprisal
    FROM toks JOIN freq USING (tok), total
    GROUP BY id
    """,
)
def q137_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-style quality scoring without the LM: mean token
    surprisal under the corpus's own unigram distribution (the cheap
    first pass of LM-based filtering in a web-corpus pipeline).
    Linear: explode + combinable frequency agg + 1-row broadcast total
    + re-join on token; no vocabulary on the driver."""
    from ..functions.text import unigram_surprisal

    d = _t(spark, sf_dir, "documents")
    return unigram_surprisal(d).select(
        F.col("id").alias("id"), "n_tokens", "mean_surprisal"
    )


@query(
    "q138_streaming_sessions",
    """
    WITH marked AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN ts - lag(ts) OVER w >= INTERVAL 10 MINUTE
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
        SELECT user_id, value,
               sum(new_s) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING
               ) AS sid
        FROM marked
    )
    SELECT user_id,
           CAST(max(sid) + 1 AS BIGINT) AS n_sessions,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM sess GROUP BY user_id
    """,
)
def q138_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING session windows: the data-dependent window whose close
    time depends on the events themselves (state stays open until the
    watermark passes each session's gap). readStream → watermark →
    session_window agg → per-user rollup, drained availableNow; must
    equal the classic batch gaps-and-islands oracle — the
    streaming/batch unification contract on the hardest window type."""
    from ..streaming.windows import streaming_session_totals

    configure_session(spark)
    ckpt = tempfile.mkdtemp(prefix="ehs_sess_")
    return streaming_session_totals(spark, sf_dir, ckpt)


@query(
    "q139_expectations",
    """
    WITH agg AS (
        SELECT count(*) AS n_rows,
               sum(CASE WHEN coalesce(l_quantity BETWEEN 1 AND 50, FALSE)
                        THEN 0 ELSE 1 END) AS v_qty,
               sum(CASE WHEN coalesce(l_discount BETWEEN 0 AND 0.1, FALSE)
                        THEN 0 ELSE 1 END) AS v_disc,
               sum(CASE WHEN coalesce(l_extendedprice > 0, FALSE)
                        THEN 0 ELSE 1 END) AS v_price,
               sum(CASE WHEN l_shipdate IS NOT NULL
                        THEN 0 ELSE 1 END) AS v_ship,
               sum(CASE WHEN coalesce(l_returnflag IN ('A','N','R'), FALSE)
                        THEN 0 ELSE 1 END) AS v_flag
        FROM lineitem
    )
    SELECT rule, n_rows, CAST(n_violations AS BIGINT) AS n_violations,
           CAST(round(CAST(CAST(n_violations AS DOUBLE) / greatest(n_rows, 1)
                AS DECIMAL(30,10)), 4) AS DOUBLE) AS violation_rate,
           n_violations = 0 AS passed
    FROM (
        SELECT 'quantity_in_range' AS rule, n_rows, v_qty AS n_violations FROM agg
        UNION ALL SELECT 'discount_in_range', n_rows, v_disc FROM agg
        UNION ALL SELECT 'price_positive', n_rows, v_price FROM agg
        UNION ALL SELECT 'shipdate_not_null', n_rows, v_ship FROM agg
        UNION ALL SELECT 'returnflag_valid', n_rows, v_flag FROM agg
    )
    """,
)
def q139_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality contract over lineitem: five row-level
    rules compiled into ONE aggregate scan (conditional counts are
    map-side combinable — rule count never adds passes over the data).
    The data-lake replacement for the DB constraints the reference
    leans on (test_etl_load.py:48-74). NULL rule results count as
    violations, the quarantine semantics, not SQL CHECK's."""
    from ..operators.expectations import check_expectations

    li = _t(spark, sf_dir, "lineitem")
    return check_expectations(
        li,
        {
            "quantity_in_range": "l_quantity BETWEEN 1 AND 50",
            "discount_in_range": "l_discount BETWEEN 0 AND 0.1",
            "price_positive": "l_extendedprice > 0",
            "shipdate_not_null": "l_shipdate IS NOT NULL",
            "returnflag_valid": "l_returnflag IN ('A','N','R')",
        },
    )


@query(
    "q140_ivf_index_probe",
    """
    WITH bf AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(
                       q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                       c.vec_id ASC
               ) AS rank,
               round(list_cosine_similarity(
                   q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 4) AS sim
        FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        WHERE q.vec_id % 20 = 10
    )
    SELECT count(DISTINCT query_id) AS n_queries,
           CAST(count(*) FILTER (rank <= 5) AS BIGINT) AS n_truth,
           CAST(round(CAST(avg(sim) FILTER (rank = 1)
                AS DECIMAL(30,10)), 4) AS DOUBLE) AS avg_top1_sim,
           true AS recall_ok
    FROM bf
    """,
)
def q140_ivf_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED ANN path: probe the partitioned IVF index with
    partition pruning (the scan's PartitionFilters eliminate unprobed
    list directories — asserted in tests/test_ann_index.py), and gate
    the result exactly like q57: exact kernel hash-verified,
    recall@5 ≥ 0.8 pinned in-plan. Probe results are equal BY
    CONSTRUCTION to inline ivf_topk (same pivots, same ordering), so
    recall matches q57's measured 0.90. The index is built once per
    (session, sf_dir) via ivf_index_cached — build-once/probe-many is
    the layout's whole point, so the timed query is the PROBE;
    bench.py times the build as its own entry."""
    from ..functions.ann_index import query_ivf_index

    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") % 20 == 10)
    idx_dir = ivf_index_cached(spark, sf_dir, nlist=16)
    ivf = query_ivf_index(spark, idx_dir, q, k=5, nprobe=12).select(
        "query_id", "neighbor_id"
    )
    bf = brute_force_topk(q, e, k=5)
    return _recall_gate(bf, ivf)


@query(
    "q141_kmeans_clusters",
    """
    WITH c0 AS (
        SELECT vec_id AS cluster_id,
               [CAST(round(CAST(x AS DECIMAL(30,10)), 6) AS DOUBLE)
                FOR x IN embedding::DOUBLE[]] AS centroid
        FROM embeddings WHERE vec_id < 8
    ), a1 AS (
        SELECT vec_id, embedding, cluster_id FROM (
            SELECT e.vec_id, e.embedding, c.cluster_id,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_cosine_similarity(
                           e.embedding::DOUBLE[], c.centroid) DESC,
                           c.cluster_id ASC
                   ) AS rn
            FROM embeddings e, c0 c
        ) WHERE rn = 1
    ), c1 AS (
        SELECT cluster_id, list(rv ORDER BY pos) AS centroid FROM (
            SELECT cluster_id, pos,
                   CAST(round(CAST(avg(embedding[pos])
                        AS DECIMAL(30,10)), 6) AS DOUBLE) AS rv
            FROM a1, (SELECT unnest(range(1, 65)) AS pos)
            GROUP BY cluster_id, pos
        ) GROUP BY cluster_id
    ), a2 AS (
        SELECT vec_id, cluster_id, sim FROM (
            SELECT e.vec_id, c.cluster_id,
                   list_cosine_similarity(
                       e.embedding::DOUBLE[], c.centroid) AS sim,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_cosine_similarity(
                           e.embedding::DOUBLE[], c.centroid) DESC,
                           c.cluster_id ASC
                   ) AS rn
            FROM embeddings e, c1 c
        ) WHERE rn = 1
    )
    SELECT cluster_id, count(*) AS n_members,
           CAST(round(CAST(avg(sim) AS DECIMAL(30,10)), 4) AS DOUBLE)
               AS avg_cos
    FROM a2 GROUP BY cluster_id
    """,
)
def q141_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means (2 Lloyd rounds, k=8, deterministic seeds)
    over the embedding corpus — the clustering step behind semantic
    diversity sampling and cluster-balanced mixtures. The oracle
    UNROLLS the identical iterations in SQL; centroid components round
    through DECIMAL(30,10) to 6dp after every recompute on BOTH
    engines, so assignments (and therefore counts) match exactly —
    iterative ML made hash-verifiable."""
    assigned = _kmeans_assigned_cached(spark, sf_dir)
    return assigned.groupBy("cluster_id").agg(
        F.count("*").alias("n_members"),
        _sround(F.avg("sim"), 4).alias("avg_cos"),
    )


@query(
    "q142_bigram_surprisal",
    """
    WITH arr AS (
        SELECT doc_id AS id,
               regexp_split_to_array(trim(lower(text)), '\\s+') AS t
        FROM documents WHERE trim(text) <> ''
    ), big AS (
        SELECT id, t[i] AS w1, t[i+1] AS w2
        FROM arr, (SELECT unnest(range(1, 1001)) AS i)  -- docs cap at ~100 tokens
        WHERE i < len(t)
    ), c2 AS (
        SELECT w1, w2, count(*) AS n12 FROM big GROUP BY w1, w2
    ), c1 AS (
        SELECT w1, count(*) AS n1 FROM big GROUP BY w1
    )
    SELECT id, count(*) AS n_bigrams,
           CAST(round(CAST(avg(-log2(CAST(n12 AS DOUBLE) / n1))
                AS DECIMAL(30,10)), 4) AS DOUBLE) AS mean_surprisal
    FROM big JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
    GROUP BY id
    """,
)
def q142_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional bigram surprisal -log2 p(w2|w1) averaged per doc —
    one LM order above q137's unigram scorer (repetitive/templated
    text scores near 0, incoherent token salad scores high). Bigrams
    come from an array slice-zip (NO window pass, no per-doc shuffle);
    the two count tables are combinable aggregates re-joined on their
    keys. Linear in corpus size end to end."""
    d = _t(spark, sf_dir, "documents")
    toks = d.where(F.trim("text") != "").select(
        F.col("doc_id").alias("id"),
        F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("t"),
    )
    n = F.size("t")
    big = toks.select(
        "id",
        F.explode(
            F.arrays_zip(
                F.slice("t", 1, F.greatest(n - 1, F.lit(0))).alias("w1"),
                F.slice("t", 2, F.greatest(n - 1, F.lit(0))).alias("w2"),
            )
        ).alias("b"),
    ).select("id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    c2 = big.groupBy("w1", "w2").agg(F.count("*").alias("n12"))
    c1 = big.groupBy("w1").agg(F.count("*").alias("n1"))
    return (
        big.join(c2, ["w1", "w2"])
        .join(c1, ["w1"])
        .groupBy("id")
        .agg(
            F.count("*").alias("n_bigrams"),
            _sround(
                F.avg(-F.log2(F.col("n12").cast("double") / F.col("n1"))), 4
            ).alias("mean_surprisal"),
        )
    )


@query(
    "q143_markov_transitions",
    """
    WITH seq AS (
        SELECT user_id, event_type AS from_type,
               lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS to_type
        FROM events
    ), trans AS (
        SELECT from_type, to_type, count(*) AS n
        FROM seq WHERE to_type IS NOT NULL
        GROUP BY from_type, to_type
    ), totals AS (
        SELECT from_type, CAST(sum(n) AS DOUBLE) AS n_from
        FROM trans GROUP BY from_type
    )
    SELECT from_type, to_type, n,
           CAST(round(CAST(CAST(n AS DOUBLE) / n_from
                AS DECIMAL(30,10)), 4) AS DOUBLE) AS p
    FROM trans JOIN totals USING (from_type)
    """,
)
def q143_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next event type | current) — the sequence-mining
    primitive behind funnel discovery and anomalous-flow detection.
    One shuffle on user_id for the ordered lead, then combinable
    counts; the |types|² transition matrix is tiny at any corpus
    size."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).where(F.col("to_type").isNotNull())
    trans = seq.groupBy("from_type", "to_type").agg(
        F.count("*").alias("n")
    )
    totals = trans.groupBy("from_type").agg(
        F.sum("n").cast("double").alias("n_from")
    )
    return trans.join(F.broadcast(totals), "from_type").select(
        "from_type",
        "to_type",
        "n",
        _sround(F.col("n").cast("double") / F.col("n_from"), 4).alias("p"),
    )


@query(
    "q144_interarrival_stats",
    """
    WITH gaps AS (
        SELECT event_type,
               date_diff('second',
                         lag(ts) OVER (
                             PARTITION BY user_id, event_type
                             ORDER BY ts, event_id
                         ),
                         ts) AS gap_s
        FROM events
    )
    SELECT event_type,
           count(gap_s) AS n_gaps,
           CAST(min(gap_s) AS BIGINT) AS min_gap_s,
           CAST(max(gap_s) AS BIGINT) AS max_gap_s,
           CAST(round(CAST(avg(gap_s) AS DECIMAL(30,10)), 2) AS DOUBLE)
               AS avg_gap_s,
           CAST(median(gap_s) AS DOUBLE) AS median_gap_s
    FROM gaps WHERE gap_s IS NOT NULL
    GROUP BY event_type
    """,
)
def q144_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type inter-arrival statistics over each user's event stream
    — the rate/burstiness profile behind anomaly detection and
    capacity planning. One (user, type) shuffle for the ordered lag,
    then a combinable per-type aggregate (median via exact percentile
    on the grouped gaps; swap for approx_percentile at 100 TB — the
    one knob this query trades for hash-verifiability)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    gaps = e.select(
        "event_type",
        (
            F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
        ).alias("gap_s"),
    ).where(F.col("gap_s").isNotNull())
    return gaps.groupBy("event_type").agg(
        F.count("gap_s").alias("n_gaps"),
        F.min("gap_s").alias("min_gap_s"),
        F.max("gap_s").alias("max_gap_s"),
        _sround(F.avg("gap_s"), 2).alias("avg_gap_s"),
        F.expr("percentile(gap_s, 0.5)").alias("median_gap_s"),
    )


@query(
    "q145_hourly_correlation",
    """
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS h, event_type,
               sum(value) AS v
        FROM events GROUP BY 1, 2
    )
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           count(*) AS n_hours,
           CAST(round(CAST(corr(a.v, b.v) AS DECIMAL(30,10)), 4)
                AS DOUBLE) AS pearson_r
    FROM hourly a JOIN hourly b
      ON a.h = b.h AND a.event_type < b.event_type
    GROUP BY a.event_type, b.event_type
    """,
)
def q145_hourly_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation between event types' hourly value
    series — the co-movement scan behind metric-anomaly root-causing.
    The hourly rollup is a combinable aggregate; the self-join aligns
    on hour (shuffle keyed by hour, |types|·|hours| rows, tiny);
    corr() is a mergeable moment sketch, so the whole thing stays one
    linear pass over events plus a small join."""
    e = _t(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.date_trunc("hour", "ts").alias("h"),
        "event_type",
    ).agg(F.sum("value").alias("v"))
    a = hourly.select(
        F.col("h"), F.col("event_type").alias("type_a"), F.col("v").alias("va")
    )
    b = hourly.select(
        F.col("h"), F.col("event_type").alias("type_b"), F.col("v").alias("vb")
    )
    return (
        a.join(b, "h")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(
            F.count("*").alias("n_hours"),
            _sround(F.corr("va", "vb"), 4).alias("pearson_r"),
        )
    )


@query(
    "q146_tpch_q16_suppcnt",
    """
    WITH ps AS (
        SELECT DISTINCT l_partkey AS partkey, l_suppkey AS suppkey
        FROM lineitem
    ), good AS (
        SELECT * FROM ps WHERE suppkey NOT IN (
            SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
        )
    )
    SELECT p_brand, p_type, p_size,
           count(DISTINCT suppkey) AS supplier_cnt
    FROM good JOIN part ON p_partkey = partkey
    WHERE p_brand <> 'Brand#5'
      AND p_type NOT LIKE 'MEDIUM%'
      AND p_size IN (1, 4, 7, 10, 15, 23, 45, 49)
    GROUP BY p_brand, p_type, p_size
    """,
)
def q146_tpch_q16_suppcnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (parts/supplier relationship), adapted: the partsupp
    relation is derived as DISTINCT (l_partkey, l_suppkey) from
    lineitem history, and "suppliers with complaints" becomes
    s_acctbal < 0. Shape preserved from the spec: NOT IN
    anti-join on the supplier blacklist, selective part-dimension
    filter broadcast into the fact side, count(DISTINCT supp) per
    (brand, type, size). The distinct projection and the countDistinct
    both partial-aggregate map-side; the only full shuffle is on the
    (partkey, suppkey) pair — |pairs|, not |lineitem|."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    p = _t(spark, sf_dir, "part")
    ps = li.select(
        F.col("l_partkey").alias("partkey"),
        F.col("l_suppkey").alias("suppkey"),
    ).distinct()
    bad = s.where(F.col("s_acctbal") < 0).select(
        F.col("s_suppkey").alias("suppkey")
    )
    pf = p.where(
        (F.col("p_brand") != "Brand#5")
        & ~F.col("p_type").startswith("MEDIUM")
        & F.col("p_size").isin(1, 4, 7, 10, 15, 23, 45, 49)
    )
    return (
        ps.join(F.broadcast(bad), "suppkey", "left_anti")
        .join(F.broadcast(pf), ps["partkey"] == pf["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("suppkey").alias("supplier_cnt"))
    )


@query(
    "q147_tpch_q20_promo",
    """
    WITH red_parts AS (
        SELECT p_partkey FROM part WHERE p_name LIKE '%red%'
    ), shipped AS (
        SELECT l_suppkey AS suppkey,
               CAST(round(CAST(sum(l_quantity) AS DECIMAL(30,10)), 2)
                    AS DOUBLE) AS red_qty
        FROM lineitem JOIN red_parts ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
        GROUP BY l_suppkey
    ), thresh AS (
        SELECT CAST(round(CAST(avg(red_qty) AS DECIMAL(30,10)), 2)
                    AS DOUBLE) AS avg_qty
        FROM shipped
    )
    SELECT s_name, n_name, red_qty
    FROM shipped, thresh
    JOIN supplier ON s_suppkey = suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE red_qty > avg_qty
    """,
)
def q147_tpch_q20_promo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (potential part promotion), adapted: with no partsupp
    availqty, the spec's "stock exceeds half of shipped quantity"
    becomes "1997 shipments of red parts exceed the per-supplier
    average" — same plan skeleton: a selective part filter broadcast
    into a date-pruned lineitem scan, a per-supplier aggregate, a
    scalar subquery threshold, and a final broadcast join to the
    supplier/nation dimensions. The scalar average is a 1-row
    broadcast, so nothing re-shuffles after the one l_suppkey agg."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    red = p.where(F.col("p_name").like("%red%")).select("p_partkey")
    shipped = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(F.broadcast(red), li["l_partkey"] == red["p_partkey"])
        .groupBy(F.col("l_suppkey").alias("suppkey"))
        .agg(_sround(F.sum("l_quantity"), 2).alias("red_qty"))
    )
    thresh = shipped.agg(_sround(F.avg("red_qty"), 2).alias("avg_qty"))
    return (
        shipped.crossJoin(F.broadcast(thresh))
        .where(F.col("red_qty") > F.col("avg_qty"))
        .join(F.broadcast(s), F.col("suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_name", "n_name", "red_qty")
    )


@query(
    "q148_tpch_q12_priority",
    """
    SELECT l_returnflag AS ship_mode,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
    GROUP BY l_returnflag
    """,
)
def q148_tpch_q12_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (shipping modes and order priority), adapted: with no
    l_shipmode/commitdate/receiptdate, the mode dimension becomes
    l_returnflag and the spec's "received late" predicate becomes
    "shipped more than 60 days after the order date". Plan shape
    preserved: one fact-fact equi-join on orderkey (the one real
    shuffle), conditional aggregation partial-applied map-side, tiny
    output. At 100 TB both sides bucket/co-partition on orderkey so
    the join is shuffle-free under bucketed layouts."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .where(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")
        )
        .groupBy(F.col("l_returnflag").alias("ship_mode"))
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "q149_pii_redaction",
    """
    WITH contact AS (
        SELECT event_type,
               printf('uid %d mail u%d@ex%d.com tel +1 (555) %03d-%04d ip 10.0.%d.%d',
                      user_id, user_id, event_id % 10, event_id % 1000,
                      (event_id * 7) % 10000, user_id % 256, event_id % 256)
                   AS txt
        FROM events
    ), staged AS (
        SELECT event_type, txt,
               len(regexp_extract_all(txt,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
                   AS n_emails,
               regexp_replace(txt,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                   '<EMAIL>', 'g') AS s1
        FROM contact
    ), staged2 AS (
        SELECT event_type, txt, n_emails,
               len(regexp_extract_all(s1,
                   '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'))
                   AS n_ips,
               regexp_replace(s1,
                   '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b',
                   '<IP>', 'g') AS s2
        FROM staged
    ), staged3 AS (
        SELECT event_type, txt, n_emails, n_ips,
               len(regexp_extract_all(s2, '\\+?\\d[\\d\\s().-]{7,}\\d'))
                   AS n_phones,
               regexp_replace(s2, '\\+?\\d[\\d\\s().-]{7,}\\d',
                   '<PHONE>', 'g') AS red
        FROM staged2
    )
    SELECT event_type, count(*) AS n_rows,
           CAST(sum(n_emails) AS BIGINT) AS emails,
           CAST(sum(n_ips) AS BIGINT) AS ips,
           CAST(sum(n_phones) AS BIGINT) AS phones,
           CAST(sum(length(txt) - length(red)) AS BIGINT) AS chars_delta
    FROM staged3 GROUP BY event_type
    """,
)
def q149_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub audit — the redaction pass every pre-training corpus
    runs (C4/Dolma-style): per event type, how many emails / IPv4s /
    phone numbers were found and how many characters redaction
    changed. The scanned text is deterministically synthesized from
    event fields (the test corpus carries no organic PII), which
    exercises every pattern in the library's chain for real. Counting
    is STAGED — each pattern counts on the previous stage's redacted
    text — so a dotted quad never double-counts as a phone run.
    Pure regexp codegen expressions: scan-speed over 100 TB, no
    Python, no shuffle before the final tiny aggregate."""
    from ..functions.text import PII_PATTERNS

    e = _t(spark, sf_dir, "events")
    txt = F.format_string(
        "uid %d mail u%d@ex%d.com tel +1 (555) %03d-%04d ip 10.0.%d.%d",
        F.col("user_id"),
        F.col("user_id"),
        F.pmod(F.col("event_id"), F.lit(10)),
        F.pmod(F.col("event_id"), F.lit(1000)),
        F.pmod(F.col("event_id") * 7, F.lit(10000)),
        F.pmod(F.col("user_id"), F.lit(256)),
        F.pmod(F.col("event_id"), F.lit(256)),
    )
    (em_pat, em_tok), (ip_pat, ip_tok), (ph_pat, ph_tok) = PII_PATTERNS
    s0 = F.col("txt")
    s1 = F.regexp_replace(s0, em_pat, em_tok)
    s2 = F.regexp_replace(s1, ip_pat, ip_tok)
    red = F.regexp_replace(s2, ph_pat, ph_tok)
    staged = e.select("event_type", txt.alias("txt")).select(
        "event_type",
        "txt",
        F.size(F.regexp_extract_all(s0, F.lit(em_pat), F.lit(0))).alias(
            "n_emails"
        ),
        F.size(F.regexp_extract_all(s1, F.lit(ip_pat), F.lit(0))).alias(
            "n_ips"
        ),
        F.size(F.regexp_extract_all(s2, F.lit(ph_pat), F.lit(0))).alias(
            "n_phones"
        ),
        (F.length(s0) - F.length(red)).alias("delta"),
    )
    return staged.groupBy("event_type").agg(
        F.count("*").alias("n_rows"),
        F.sum("n_emails").alias("emails"),
        F.sum("n_ips").alias("ips"),
        F.sum("n_phones").alias("phones"),
        F.sum("delta").alias("chars_delta"),
    )


@query(
    "q150_source_cap",
    """
    WITH ranked AS (
        SELECT source, n_chars,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY n_chars DESC, doc_id ASC
               ) AS rn
        FROM documents
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN rn <= 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN rn > 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
           CAST(sum(CASE WHEN rn <= 20 THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
    FROM ranked GROUP BY source
    """,
)
def q150_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap — the domain-balancing step of a
    pre-training mixture (cap any one crawl source/domain at N docs,
    keeping the longest first): rank within source by (n_chars desc,
    doc_id) and keep the top 20, reporting kept/dropped volume per
    source. One shuffle on source for the window; at 100 TB a
    power-law source (one domain = half the corpus) is the skew risk —
    the mitigation is a two-level cap (hash-salt the source into S
    shards, cap each at N/S, re-cap the union) which this operator's
    deterministic ordering makes exact."""
    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    kept = F.col("rn") <= 20
    return (
        d.select("source", "n_chars", F.row_number().over(w).alias("rn"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(kept, 1).otherwise(0)).alias("n_kept"),
            F.sum(F.when(~kept, 1).otherwise(0)).alias("n_dropped"),
            F.sum(F.when(kept, F.col("n_chars")).otherwise(0)).alias(
                "kept_chars"
            ),
        )
    )


@query(
    "q151_winnow_fingerprint",
    """
    WITH g AS (
        SELECT doc_id,
               CASE WHEN len(text) >= 8
                 THEN [substr(md5(substr(text, i, 8)), 1, 8)
                       FOR i IN range(1, len(text) - 8 + 2)]
                 ELSE [] END AS hashes
        FROM documents
    ), w AS (
        SELECT doc_id, len(hashes) AS n_kgrams,
               CASE WHEN len(hashes) >= 1
                 THEN [list_aggregate(hashes[i:i+3], 'min')
                       FOR i IN range(1, greatest(len(hashes) - 3, 1) + 1)]
                 ELSE [] END AS wins
        FROM g
    )
    SELECT doc_id, n_kgrams,
           len(list_distinct(wins)) AS n_fps,
           list_sort(list_distinct(wins)) AS fps
    FROM w
    """,
)
def q151_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (MOSS; Schleimer et al., SIGMOD 2003)
    per document: md5-hash every 8-char shingle, keep the min hash of
    each sliding window of 4 — any shared substring of length >= 11
    between two documents is then guaranteed to share a fingerprint.
    The whole computation is a single codegen'd projection built from
    higher-order array functions (transform/slice/array_min): no
    explode, no shuffle, no Python — scan-speed fingerprinting at
    100 TB, with a downstream explode+groupBy on fingerprint (not run
    here) giving the cross-doc match join at |fingerprints| ≈
    corpus/w cost."""
    from ..functions.text import winnow_fingerprints

    d = _t(spark, sf_dir, "documents")
    fps = winnow_fingerprints(F.col("text"), k=8, w=4)
    return d.select(
        "doc_id",
        F.greatest(F.length("text") - F.lit(7), F.lit(0)).alias("n_kgrams"),
        F.size(fps).alias("n_fps"),
        fps.alias("fps"),
    )


@query(
    "q152_semantic_dedup",
    """
    WITH kd AS (
        SELECT greatest(8, CAST(ceil(count(*) / 256.0) AS BIGINT)) AS k
        FROM embeddings
    ), c0 AS (
        SELECT vec_id AS cluster_id,
               [CAST(round(CAST(x AS DECIMAL(30,10)), 6) AS DOUBLE)
                FOR x IN embedding::DOUBLE[]] AS centroid
        FROM embeddings WHERE vec_id < (SELECT k FROM kd)
    ), a1 AS (
        SELECT vec_id, embedding, cluster_id FROM (
            SELECT e.vec_id, e.embedding, c.cluster_id,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_cosine_similarity(
                           e.embedding::DOUBLE[], c.centroid) DESC,
                           c.cluster_id ASC
                   ) AS rn
            FROM embeddings e, c0 c
        ) WHERE rn = 1
    ), c1 AS (
        SELECT cluster_id, list(rv ORDER BY pos) AS centroid FROM (
            SELECT cluster_id, pos,
                   CAST(round(CAST(avg(embedding[pos])
                        AS DECIMAL(30,10)), 6) AS DOUBLE) AS rv
            FROM a1, (SELECT unnest(range(1, 65)) AS pos)
            GROUP BY cluster_id, pos
        ) GROUP BY cluster_id
    ), a2 AS (
        SELECT vec_id, cluster_id FROM (
            SELECT e.vec_id, c.cluster_id,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_cosine_similarity(
                           e.embedding::DOUBLE[], c.centroid) DESC,
                           c.cluster_id ASC
                   ) AS rn
            FROM embeddings e, c1 c
        ) WHERE rn = 1
    ), pairs AS (
        SELECT a.cluster_id,
               a.vec_id AS id_a, b.vec_id AS id_b,
               CAST(round(CAST(list_cosine_similarity(
                   ea.embedding::DOUBLE[], eb.embedding::DOUBLE[])
                   AS DECIMAL(30,10)), 4) AS DOUBLE) AS sim
        FROM a2 a
        JOIN a2 b ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
        JOIN embeddings ea ON ea.vec_id = a.vec_id
        JOIN embeddings eb ON eb.vec_id = b.vec_id
    )
    SELECT cluster_id, count(*) AS n_pairs,
           count(DISTINCT id_b) AS n_dropped,
           max(sim) AS max_sim
    FROM pairs WHERE sim >= 0.3 GROUP BY cluster_id
    """,
)
def q152_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) over the embedding corpus:
    k-means (2 Lloyd rounds, deterministic) bounds the exact
    pairwise-cosine comparison to WITHIN clusters, turning the O(n²)
    all-pairs scan into per-cluster numpy matmuls with O(Σ cᵢ²)
    compare work. k is DERIVED from the corpus size —
    max(8, ceil(n / 256)) on both engines (the oracle's kd CTE), so
    expected cluster size is fixed as the corpus grows and the compare
    work stays O(n · 256); semantic_dedup's max_cluster cap re-shards
    any skew-degenerate cluster on top of that. At bench scale the
    derived k is 8, identical to q141's clustering, so the cached
    assignment stage is shared. Reports per cluster how many
    above-threshold pairs exist and how many docs a keep-lowest-id
    policy would drop."""
    import math

    from ..functions.dedup import semantic_dedup

    e = _t(spark, sf_dir, "embeddings")
    # parquet-metadata count — the "cheap n" the derivation needs
    k = max(8, math.ceil(e.count() / 256))
    # Oracle-soundness guards: the SQL oracle (a) ranks centroids with
    # the literal-path argmax (derived k past literal_max would switch
    # the engine to the numpy argmax, whose ulp-level sums can diverge
    # from SQL on near-ties) and (b) enumerates ALL within-cluster
    # pairs (an over-cap cluster would be salt-re-sharded engine-side,
    # silently dropping cross-shard pairs). Both are structural at
    # driver testdata scales; if a larger SF ever crosses either
    # limit, fail loudly here instead of hash-mismatching downstream.
    max_cluster = 4096
    if k > 64:
        raise AssertionError(
            f"q152: derived k={k} exceeds the literal argmax path "
            "(literal_max=64) — oracle comparison would be unsound"
        )
    assignments = _kmeans_assigned_cached(spark, sf_dir, k)
    biggest = (
        assignments.groupBy("cluster_id")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    if biggest is not None and biggest > max_cluster:
        raise AssertionError(
            f"q152: cluster of {biggest} rows exceeds max_cluster="
            f"{max_cluster} — re-shard would drop oracle pairs"
        )
    pairs = semantic_dedup(
        e,
        "vec_id",
        "embedding",
        k=k,
        iterations=2,
        threshold=0.3,
        max_cluster=max_cluster,
        assignments=assignments,
    )
    return pairs.groupBy("cluster_id").agg(
        F.count("*").alias("n_pairs"),
        F.countDistinct("id_b").alias("n_dropped"),
        F.max("sim").alias("max_sim"),
    )


@query(
    "q153_quality_logit",
    """
    WITH feat AS (
        SELECT source,
               length(text) AS n_chars,
               greatest(len(regexp_split_to_array(trim(lower(text)), '\\s+')), 1)
                   AS n_tok,
               len(list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+')))
                   AS n_distinct,
               length(regexp_replace(text, '\\s+', '', 'g')) AS n_nonspace,
               length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
                   / greatest(length(text), 1) AS punct
        FROM documents
    ), scored AS (
        SELECT source,
               CAST(round(CAST(1.0 / (1.0 + exp(-(
                   -3.0 + 0.45 * ln(greatest(n_chars, 1))
                   + 2.0 * (n_distinct / CAST(n_tok AS DOUBLE))
                   - 4.0 * punct
                   - 0.05 * (n_nonspace / CAST(n_tok AS DOUBLE))
               ))) AS DECIMAL(30,10)), 4) AS DOUBLE) AS score
        FROM feat
    )
    SELECT source, count(*) AS n_docs,
           CAST(round(CAST(avg(score) AS DECIMAL(30,10)), 4) AS DOUBLE)
               AS avg_score,
           CAST(sum(CASE WHEN score >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
    FROM scored GROUP BY source
    """,
)
def q153_quality_logit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-shaped quality filtering (the CCNet/DCLM linear-classifier
    step with fixed, published-heuristic weights instead of a model
    artifact): a logistic score over log-length, token diversity,
    punctuation ratio and mean token length, aggregated per source as
    the mixture-weighting signal. One codegen scan + one tiny
    aggregate; swapping in real learned weights keeps the exact same
    plan, which is the point — quality scoring at 100 TB is
    scan-bound, not model-bound, when the featurizer stays JVM-side."""
    from ..functions.text import quality_logit

    d = _t(spark, sf_dir, "documents")
    score = F.round(quality_logit(F.col("text")).cast("decimal(30,10)"), 4).cast(
        "double"
    )
    return (
        d.select("source", score.alias("score"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            _sround(F.avg("score"), 4).alias("avg_score"),
            F.sum(F.when(F.col("score") >= 0.5, 1).otherwise(0)).alias(
                "n_pass"
            ),
        )
    )


@query(
    "q154_runtime_filter",
    """
    SELECT o_orderstatus, count(*) AS n_orders,
           CAST(round(CAST(sum(o_totalprice) AS DECIMAL(30,10)), 2)
                AS DOUBLE) AS total_price
    FROM orders
    WHERE o_custkey IN (
        SELECT c_custkey FROM customer
        WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 5000
    )
    GROUP BY o_orderstatus
    """,
)
def q154_runtime_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime IN-filter pushdown — the manual form of dynamic
    partition pruning: the (post-filter, known-small) customer key set
    is collected and pushed into the orders SCAN as an IN predicate,
    so parquet row groups whose o_custkey min/max excludes the whole
    list are skipped without being read (and on a layout partitioned
    by custkey, whole directories are pruned). Result is exactly the
    left-semi join the oracle states; the fallback above the
    max_keys bound is a broadcast semi join. Plan-asserted in
    tests/test_round3_ops.py: `PushedFilters: [In(o_custkey, ...)]`."""
    from ..functions.util import in_filter_join

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    dim = c.where(
        (F.col("c_mktsegment") == "BUILDING") & (F.col("c_acctbal") > 5000)
    )
    return (
        in_filter_join(o, dim, "o_custkey", "c_custkey")
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            _sround(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


@query(
    "q155_winnow_matches",
    """
    WITH g AS (
        SELECT doc_id,
               CASE WHEN len(text) >= 8
                 THEN [substr(md5(substr(text, i, 8)), 1, 8)
                       FOR i IN range(1, len(text) - 8 + 2)]
                 ELSE [] END AS hashes
        FROM documents
    ), w AS (
        SELECT doc_id,
               CASE WHEN len(hashes) >= 1
                 THEN list_distinct([list_aggregate(hashes[i:i+3], 'min')
                       FOR i IN range(1, greatest(len(hashes) - 3, 1) + 1)])
                 ELSE [] END AS fps
        FROM g
    ), fp AS (
        SELECT doc_id, unnest(fps) AS f FROM w
    ), rare AS (
        SELECT f FROM fp GROUP BY f HAVING count(*) <= 10
    ), filtered AS (
        SELECT fp.doc_id, fp.f FROM fp JOIN rare USING (f)
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS shared_fps
    FROM filtered a JOIN filtered b
      ON a.f = b.f AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING count(*) >= 2
    """,
)
def q155_winnow_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document winnowing match join (the MOSS detection step):
    documents sharing >= 2 rare winnowed fingerprints are flagged as
    containing copied passages. The scale mechanics mirror PPJoin:
    explode each doc's (already deduplicated) fingerprint set, DROP
    stop-fingerprints (document frequency > 10 — boilerplate shingles
    that would otherwise create quadratic hub buckets, exactly the
    degenerate-bucket hazard lsh_bucket_topk caps), then a fingerprint
    equi-join whose per-key fan-out is bounded by the df cap — never
    an all-pairs comparison. One explode + two key-partitioned
    aggregates + one bounded join: linear in corpus size at 100 TB."""
    from ..functions.text import winnow_fingerprints

    d = _t(spark, sf_dir, "documents")
    from ..functions.util import ensure_parallelism

    fp = (
        ensure_parallelism(d)
        .select(
            "doc_id",
            F.explode(winnow_fingerprints(F.col("text"), k=8, w=4)).alias(
                "f"
            ),
        )
    )
    rare = fp.groupBy("f").agg(F.count("*").alias("df")).where(
        F.col("df") <= 10
    )
    filtered = fp.join(rare.select("f"), "f")
    a = filtered.select(F.col("f"), F.col("doc_id").alias("doc_a"))
    b = filtered.select(F.col("f"), F.col("doc_id").alias("doc_b"))
    return (
        a.join(b, "f")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("shared_fps"))
        .where(F.col("shared_fps") >= 2)
    )


@query(
    "q156_winsorize",
    """
    WITH b AS (
        SELECT o_orderstatus,
               CAST(round(CAST(quantile_cont(o_totalprice, 0.05)
                    AS DECIMAL(30,10)), 2) AS DOUBLE) AS lo,
               CAST(round(CAST(quantile_cont(o_totalprice, 0.95)
                    AS DECIMAL(30,10)), 2) AS DOUBLE) AS hi
        FROM orders GROUP BY o_orderstatus
    )
    SELECT o.o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
           CAST(round(CAST(sum(o_totalprice) AS DECIMAL(30,10)), 2)
                AS DOUBLE) AS sum_raw,
           CAST(round(CAST(sum(least(greatest(o_totalprice, lo), hi))
                AS DECIMAL(30,10)), 2) AS DOUBLE) AS sum_winsor,
           CAST(sum(CASE WHEN o_totalprice < lo THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clipped_low,
           CAST(sum(CASE WHEN o_totalprice > hi THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clipped_high
    FROM orders o JOIN b USING (o_orderstatus)
    GROUP BY o.o_orderstatus
    """,
)
def q156_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization (outlier clipping at the 5th/95th
    percentile) — the robust-statistics step of metric pipelines and
    reward-model score normalization. Two passes: a tiny per-group
    percentile aggregate (|groups| rows, broadcast back), then one
    clipping scan. Exact percentile is fine at any scale because the
    FIRST aggregate is per-group mergeable; swap percentile ->
    approx_percentile to make it single-pass mergeable sketches if
    groups are huge."""
    o = _t(spark, sf_dir, "orders")
    bounds = o.groupBy("o_orderstatus").agg(
        _sround(F.expr("percentile(o_totalprice, 0.05)"), 2).alias("lo"),
        _sround(F.expr("percentile(o_totalprice, 0.95)"), 2).alias("hi"),
    )
    clipped = F.least(
        F.greatest(F.col("o_totalprice"), F.col("lo")), F.col("hi")
    )
    return (
        o.join(F.broadcast(bounds), "o_orderstatus")
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            _sround(F.sum("o_totalprice"), 2).alias("sum_raw"),
            _sround(F.sum(clipped), 2).alias("sum_winsor"),
            F.sum(
                F.when(F.col("o_totalprice") < F.col("lo"), 1).otherwise(0)
            ).alias("n_clipped_low"),
            F.sum(
                F.when(F.col("o_totalprice") > F.col("hi"), 1).otherwise(0)
            ).alias("n_clipped_high"),
        )
    )


@query(
    "q157_trend_fit",
    """
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS h,
               sum(value) AS v
        FROM events GROUP BY event_type, date_trunc('hour', ts)
    ), x AS (
        SELECT event_type, v,
               CAST(epoch(h) / 3600
                    - min(epoch(h) / 3600) OVER (PARTITION BY event_type)
                    AS DOUBLE) AS xs
        FROM hourly
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
           CAST(round(CAST(regr_slope(v, xs) AS DECIMAL(30,10)), 4)
                AS DOUBLE) AS slope,
           CAST(round(CAST(regr_intercept(v, xs) AS DECIMAL(30,10)), 4)
                AS DOUBLE) AS intercept,
           CAST(round(CAST(regr_r2(v, xs) AS DECIMAL(30,10)), 4)
                AS DOUBLE) AS r2
    FROM x GROUP BY event_type
    """,
)
def q157_trend_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series least-squares trend fit over hourly rollups — the
    drift detector behind capacity planning and metric alerting, as a
    pure aggregate: regr_slope/intercept/r2 are mergeable moment
    aggregates (sum, sum x, sum x², sum xy), so the whole fit
    partial-aggregates map-side and shuffles |series| rows regardless
    of corpus size. The x origin is shifted per series (window min)
    for numeric conditioning; that window rides the same event_type
    partitioning as the final aggregate."""
    e = _t(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.sum("value").alias("v"))
    w = Window.partitionBy("event_type")
    xs = (
        F.unix_timestamp("h") / 3600
        - F.min(F.unix_timestamp("h") / 3600).over(w)
    ).cast("double")
    x = hourly.select("event_type", "v", xs.alias("xs"))
    return x.groupBy("event_type").agg(
        F.count("*").alias("n_hours"),
        _sround(F.regr_slope("v", "xs"), 4).alias("slope"),
        _sround(F.regr_intercept("v", "xs"), 4).alias("intercept"),
        _sround(F.regr_r2("v", "xs"), 4).alias("r2"),
    )


@query(
    "q158_zscore_outliers",
    """
    WITH s AS (
        SELECT event_type,
               CAST(round(CAST(avg(value) AS DECIMAL(30,10)), 6)
                    AS DOUBLE) AS mu,
               CAST(round(CAST(stddev_samp(value) AS DECIMAL(30,10)), 6)
                    AS DOUBLE) AS sd
        FROM events GROUP BY event_type
    ), z AS (
        SELECT e.event_type,
               CAST(round(CAST(abs((value - mu) / sd) AS DECIMAL(30,10)), 4)
                    AS DOUBLE) AS az
        FROM events e JOIN s USING (event_type)
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN az > 2.5 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_outliers,
           max(az) AS max_z
    FROM z GROUP BY event_type
    """,
)
def q158_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series z-score outlier scan: one tiny per-type moment
    aggregate (mu, sd — rounded through DECIMAL at 6dp so both engines
    standardize against the identical constants), broadcast back into
    a second scan that counts |z| > 2.5 exceedances and tracks the
    max. Two linear passes, no wide shuffle: the stats side is
    |event_types| rows. This is the anomaly-flagging shape that scales
    to 100 TB because the join side is always broadcastable."""
    e = _t(spark, sf_dir, "events")
    s = e.groupBy("event_type").agg(
        F.round(F.avg("value").cast("decimal(30,10)"), 6)
        .cast("double")
        .alias("mu"),
        F.round(F.stddev_samp("value").cast("decimal(30,10)"), 6)
        .cast("double")
        .alias("sd"),
    )
    # try_divide: a degenerate group (single row → sd NULL, or
    # constant values → sd 0) yields NULL az — counted as
    # non-outlier and ignored by max(), matching the oracle —
    # instead of an ANSI DIVIDE_BY_ZERO aborting the scan.
    az = F.round(
        F.abs(
            F.try_divide(F.col("value") - F.col("mu"), F.col("sd"))
        ).cast("decimal(30,10)"),
        4,
    ).cast("double")
    return (
        e.join(F.broadcast(s), "event_type")
        .select("event_type", az.alias("az"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.when(F.col("az") > 2.5, 1).otherwise(0)).alias(
                "n_outliers"
            ),
            F.max("az").alias("max_z"),
        )
    )


@query(
    "q159_session_paths",
    """
    WITH gaps AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), ids AS (
        SELECT user_id, ts, event_id, event_type,
               sum(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS session_seq
        FROM gaps
    ), seqs AS (
        SELECT user_id, session_seq,
               list(event_type ORDER BY ts, event_id) AS types
        FROM ids GROUP BY user_id, session_seq
    ), paths AS (
        SELECT unnest([types[i] || '>' || types[i+1] || '>' || types[i+2]
                       FOR i IN range(1, len(types) - 2 + 1)]) AS path
        FROM seqs WHERE len(types) >= 3
    )
    SELECT path, CAST(count(*) AS BIGINT) AS n_sessions_path
    FROM paths GROUP BY path
    ORDER BY n_sessions_path DESC, path ASC LIMIT 10
    """,
)
def q159_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user journeys: sessionize (30-min idle gap, q17 semantics
    with a (ts, event_id) total order so paths are deterministic),
    collect each session's ordered event-type sequence, slide a
    3-gram over it, and rank the paths corpus-wide — the product-
    analytics "common flows" query. One user_id shuffle for the
    session window, one (user, session) aggregate whose state is the
    session's events (bounded by session length, not corpus), one
    combinable path count. The 3-gram expansion is an in-row array
    transform — no second explode-join pass."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    ids = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.sum(
            F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
        )
        .over(w)
        .alias("session_seq"),
    )
    seqs = (
        ids.groupBy("user_id", "session_seq")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("ts", "event_id", "event_type")
                    )
                ),
                lambda s: s["event_type"],
            ).alias("types")
        )
        .where(F.size("types") >= 3)
    )
    paths = seqs.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("types") - 2),
                lambda i: F.concat_ws(
                    ">",
                    F.element_at(F.col("types"), i),
                    F.element_at(F.col("types"), i + 1),
                    F.element_at(F.col("types"), i + 2),
                ),
            )
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_sessions_path"))
        .orderBy(F.desc("n_sessions_path"), F.asc("path"))
        .limit(10)
    )


@query(
    "q160_inverted_index",
    """
    WITH tok AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(lower(text)), '\\s+'))
                   AS token
        FROM documents
    ), per_doc AS (
        SELECT token, doc_id, count(*) AS n
        FROM tok WHERE token <> '' GROUP BY token, doc_id
    )
    SELECT token,
           CAST(count(*) AS BIGINT) AS df,
           CAST(sum(n) AS BIGINT) AS cf,
           (list(doc_id ORDER BY doc_id))[1:20] AS postings
    FROM per_doc GROUP BY token
    ORDER BY df DESC, token ASC LIMIT 50
    """,
)
def q160_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build (the IR/search side of a corpus pipeline):
    token -> document frequency, collection frequency, and the first
    20 postings (sorted doc ids). Two key-partitioned aggregates, both
    map-side combinable: (token, doc) dedup+count first — so the
    token-level state is per-DOCUMENT postings, never per-occurrence —
    then the token rollup whose collect_list is bounded to the sample
    cap. At 100 TB the full postings would go to a partitioned sink
    instead of a driver-facing top-k; the plan shape (explode + two
    combinable aggs) is the same."""
    from ..functions.text import tokens_table

    d = _t(spark, sf_dir, "documents")
    tok = tokens_table(d, "doc_id", "text")
    per_doc = tok.groupBy("token", "doc_id").agg(F.count("*").alias("n"))
    return (
        per_doc.groupBy("token")
        .agg(
            F.count("*").alias("df"),
            F.sum("n").alias("cf"),
            F.slice(F.array_sort(F.collect_list("doc_id")), 1, 20).alias(
                "postings"
            ),
        )
        .orderBy(F.desc("df"), F.asc("token"))
        .limit(50)
    )


@query(
    "q161_cogroup_merge",
    """
    WITH o AS (
        SELECT o_custkey AS key, CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS order_cents
        FROM orders WHERE o_custkey <= 2000 GROUP BY o_custkey
    ), e AS (
        SELECT user_id AS key, CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CAST(round(value * 100) AS BIGINT))
                    AS BIGINT) AS value_cents
        FROM events WHERE user_id <= 2000 GROUP BY user_id
    )
    SELECT COALESCE(o.key, e.key) AS key,
           COALESCE(n_orders, 0) AS n_orders,
           COALESCE(n_events, 0) AS n_events,
           COALESCE(order_cents, 0) AS order_cents,
           COALESCE(value_cents, 0) AS value_cents
    FROM o FULL OUTER JOIN e ON o.key = e.key
    """,
)
def q161_cogroup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped pandas merge — the applyInPandas-on-cogroup API
    surface: orders and events aligned on the same key arrive as two
    pandas frames per group, and arbitrary Python reconciliation runs
    inside the group (here: order/event volume per customer, in
    integer cents so the Python-side arithmetic is exact and
    order-insensitive). This is the escape hatch for per-key logic
    that genuinely needs two tables side by side (statement matching,
    ledger reconciliation). Cogrouping happens on a HASH BUCKET of the
    key, not the key itself: Spark invokes Python once per cogroup
    (~1ms fixed cost), so one-group-per-key pays one invocation per
    key for ~keys×µs of real work. The bucket count is DERIVED from an
    estimated key count (ceil(keys/32), clamped) — a constant is wrong
    at both ends: at 100× the keys one fixed bucket goes fat (python
    state balloons), at 0.01× most buckets are empty Python
    invocations. The estimate is a parquet-metadata row count (the
    customer table bounds the ≤2000-key domain), so deriving it costs
    no scan. Both inputs still shuffle exactly once, state stays
    bounded by bucket size (~32 keys × rows-per-key), and bucketing
    (pmod) never changes the answer — only the invocation/state
    granularity. The oracle states the relational equivalent: FULL
    OUTER JOIN of the two per-key aggregates — reach for cogroup only
    when the per-key logic can't be that join."""
    import pandas as pd

    # derived bucket count: ~32 keys per Python invocation, key count
    # estimated from bounded metadata (|customer| caps the ≤2000 key
    # domain); clamp keeps degenerate estimates sane at both ends
    keys_est = min(2000, _t(spark, sf_dir, "customer").count())
    buckets = int(max(4, min(4096, -(-keys_est // 32))))
    o = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_custkey") <= 2000)
        .select(
            "o_custkey",
            "o_totalprice",
            F.pmod("o_custkey", F.lit(buckets)).alias("bkt"),
        )
    )
    e = (
        _t(spark, sf_dir, "events")
        .where(F.col("user_id") <= 2000)
        .select(
            "user_id", "value",
            F.pmod("user_id", F.lit(buckets)).alias("bkt"),
        )
    )

    def merge(orders_pdf, events_pdf):
        oa = (
            pd.DataFrame(
                {
                    "key": orders_pdf["o_custkey"],
                    "cents": orders_pdf["o_totalprice"]
                    .mul(100)
                    .round()
                    .astype("int64"),
                }
            )
            .groupby("key")
            .agg(n_orders=("cents", "size"), order_cents=("cents", "sum"))
        )
        ea = (
            pd.DataFrame(
                {
                    "key": events_pdf["user_id"],
                    "cents": events_pdf["value"]
                    .mul(100)
                    .round()
                    .astype("int64"),
                }
            )
            .groupby("key")
            .agg(n_events=("cents", "size"), value_cents=("cents", "sum"))
        )
        out = oa.join(ea, how="outer").fillna(0).reset_index()
        for c in ("n_orders", "n_events", "order_cents", "value_cents"):
            out[c] = out[c].astype("int64")
        return out[
            ["key", "n_orders", "n_events", "order_cents", "value_cents"]
        ]

    return (
        o.groupBy("bkt")
        .cogroup(e.groupBy("bkt"))
        .applyInPandas(
            merge,
            "key long, n_orders long, n_events long, "
            "order_cents long, value_cents long",
        )
    )


@query(
    "q162_incremental_rollup",
    """
    SELECT event_type, date_trunc('day', ts) AS day,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS value_cents
    FROM events GROUP BY event_type, date_trunc('day', ts)
    """,
)
def q162_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance (operators/ivm.py): the stored
    daily rollup is built from the "historical" 80% of events, then
    the remaining 20% arrives as a batch whose PARTIAL aggregate
    merges in — history is never re-scanned; the per-batch cost is
    O(batch) plus a |groups|-sized outer join. Measures are integer
    cents, so partial+merge is exact and the oracle can simply state
    the semantic contract: the incrementally-maintained view EQUALS
    the full recompute over all events. This is the
    dashboard-freshness pattern at 100 TB — the same mergeable-partial
    property Spark uses for map-side combine, lifted to cross-batch
    persistence."""
    from ..operators.ivm import merge_rollup, rollup_partial

    e = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.date_trunc("day", "ts").alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    hist = e.where(F.pmod("event_id", F.lit(10)) < 8)
    delta = e.where(F.pmod("event_id", F.lit(10)) >= 8)
    keys = ["event_type", "day"]
    base = rollup_partial(hist, keys, {"value_cents": "cents"})
    delta_p = rollup_partial(delta, keys, {"value_cents": "cents"})
    return merge_rollup(base, delta_p, keys)


@query(
    "q163_stream_ivm",
    """
    SELECT event_type, date_trunc('day', ts) AS day,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS value_cents
    FROM events GROUP BY event_type, date_trunc('day', ts)
    """,
)
def q163_stream_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental view maintenance
    (operators/ivm.py::streaming_incremental_rollup): the events feed
    is drained as four availableNow micro-batches, each one's partial
    aggregate merged into versioned parquet state via foreachBatch —
    replayed batches overwrite their own version, so the maintenance
    is idempotent under at-least-once delivery. The oracle states the
    freshness contract: after the drain, the maintained table EQUALS
    the batch rollup over everything — the end-to-end form of q162's
    merge, now with the streaming machinery in the loop."""
    from ..operators.ivm import streaming_incremental_rollup

    configure_session(spark)
    ckpt = tempfile.mkdtemp(prefix="ehs_ivm_ckpt_")
    state = tempfile.mkdtemp(prefix="ehs_ivm_state_")
    return streaming_incremental_rollup(spark, sf_dir, ckpt, state)


@query(
    "q164_skyline",
    """
    WITH pts AS (
        SELECT p_retailprice AS price, p_size AS size,
               CAST(min(p_partkey) AS BIGINT) AS part_id
        FROM part GROUP BY p_retailprice, p_size
    )
    SELECT price, size, part_id FROM pts d
    WHERE NOT EXISTS (
        SELECT 1 FROM pts e
        WHERE e.price <= d.price AND e.size <= d.size
          AND (e.price < d.price OR e.size < d.size)
    )
    """,
)
def q164_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto front) over (price, size) — the preference
    query: keep the parts no other part beats on both dimensions.
    The naive plan is the oracle's NOT-EXISTS theta self-join
    (quadratic, BroadcastNestedLoop); the declared plan is the
    scalable decomposition: distinct points bucket by price range,
    in-bucket domination is a cumulative size-min window PARALLEL per
    bucket (bucket boundaries guarantee earlier buckets are strictly
    cheaper), and cross-bucket domination needs only each bucket's
    min size — a |buckets|-row summary whose running min broadcasts
    back. One hash shuffle on bucket + one broadcast: no O(n²)
    comparisons anywhere, and the single-partition window runs over
    the tiny bucket summary, never the data."""
    p = _t(spark, sf_dir, "part")
    pts = p.groupBy(
        F.col("p_retailprice").alias("price"),
        F.col("p_size").alias("size"),
    ).agg(F.min("p_partkey").alias("part_id"))
    b = pts.withColumn(
        "bucket", F.floor(F.col("price") / 10).cast("long")
    )
    w_in = Window.partitionBy("bucket").orderBy("price", "size").rowsBetween(
        Window.unboundedPreceding, -1
    )
    bmins = b.groupBy("bucket").agg(F.min("size").alias("bmin"))
    wb = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    bprev = bmins.select(
        "bucket", F.min("bmin").over(wb).alias("prev_min")
    )
    return (
        b.withColumn("min_prev", F.min("size").over(w_in))
        .join(F.broadcast(bprev), "bucket")
        .where(
            (F.col("min_prev").isNull() | (F.col("min_prev") > F.col("size")))
            & (
                F.col("prev_min").isNull()
                | (F.col("prev_min") > F.col("size"))
            )
        )
        .select("price", "size", "part_id")
    )


@query(
    "q165_mixture_sample",
    """
    WITH counts AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(ceil(sqrt(count(*)) * 4) AS BIGINT) AS n_target
        FROM documents GROUP BY source
    ), kept AS (
        SELECT d.source, d.n_chars
        FROM documents d JOIN counts c USING (source)
        WHERE CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
                   AS BIGINT) % c.n_docs < c.n_target
    )
    SELECT c.source, c.n_docs, c.n_target,
           CAST(count(k.source) AS BIGINT) AS n_kept,
           CAST(coalesce(sum(k.n_chars), 0) AS BIGINT) AS kept_chars
    FROM counts c LEFT JOIN kept k ON c.source = k.source
    GROUP BY c.source, c.n_docs, c.n_target
    """,
)
def q165_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed mixture construction — the multilingual/multi-domain
    rebalancing rule (sample ∝ sqrt of source size, the temperature-
    sampling shape): per-source targets derive from the source counts,
    and selection is the engine-stable hash test ``md5(id) mod n <
    target`` — pure INTEGER arithmetic, so the sample is identical
    across engines, runs, and partitionings, and the acceptance rate
    tracks target/n with no RNG state. Plan shape: one tiny per-source
    count aggregate broadcast back into a single filter scan — the
    same two-pass broadcast pattern as winsorize/z-score, linear at
    any corpus size."""
    d = _t(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.ceil(F.sqrt(F.count("*")) * 4).cast("long").alias("n_target"),
    )
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    kept = (
        d.join(F.broadcast(counts), "source")
        .where(F.pmod(h, F.col("n_docs")) < F.col("n_target"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_kept"),
            F.sum("n_chars").alias("kept_chars"),
        )
    )
    return (
        counts.join(kept, "source", "left")
        .select(
            "source",
            "n_docs",
            "n_target",
            F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
            F.coalesce(F.col("kept_chars"), F.lit(0)).alias("kept_chars"),
        )
    )


@query(
    "q166_rfm_segments",
    """
    WITH rfm AS (
        SELECT o_custkey,
               max(o_orderdate) AS last_order,
               CAST(count(*) AS BIGINT) AS freq,
               CAST(round(CAST(sum(o_totalprice) AS DECIMAL(30,10)), 2)
                    AS DOUBLE) AS monetary
        FROM orders GROUP BY o_custkey
    ), scored AS (
        SELECT o_custkey,
               ntile(4) OVER (ORDER BY last_order DESC, o_custkey) AS r,
               ntile(4) OVER (ORDER BY freq DESC, o_custkey) AS f,
               ntile(4) OVER (ORDER BY monetary DESC, o_custkey) AS m
        FROM rfm
    )
    SELECT r, f, m, CAST(count(*) AS BIGINT) AS n_customers
    FROM scored GROUP BY r, f, m
    """,
)
def q166_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (recency/frequency/monetary quartiles) — the
    standard customer-value grid: one per-customer aggregate, three
    global ntile windows (each deterministic via customer-key
    tie-break), a tiny 4x4x4 segment count. The global ntile is the
    scale caveat: it single-partitions |customers| rows, fine for a
    dimension-sized table; at fact scale swap ntile for
    approx-percentile bucket edges computed map-side (the q103
    mixture-decile pattern) and the plan loses the global sort."""
    o = _t(spark, sf_dir, "orders")
    rfm = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("freq"),
        _sround(F.sum("o_totalprice"), 2).alias("monetary"),
    )
    scored = rfm.select(
        "o_custkey",
        F.ntile(4)
        .over(Window.orderBy(F.desc("last_order"), F.asc("o_custkey")))
        .alias("r"),
        F.ntile(4)
        .over(Window.orderBy(F.desc("freq"), F.asc("o_custkey")))
        .alias("f"),
        F.ntile(4)
        .over(Window.orderBy(F.desc("monetary"), F.asc("o_custkey")))
        .alias("m"),
    )
    return scored.groupBy("r", "f", "m").agg(
        F.count("*").alias("n_customers")
    )


@query(
    "q167_mad_outliers",
    """
    WITH med AS (
        SELECT event_type,
               CAST(round(CAST(median(value) AS DECIMAL(30,10)), 6)
                    AS DOUBLE) AS med
        FROM events GROUP BY event_type
    ), mad AS (
        SELECT e.event_type, m.med,
               CAST(round(CAST(median(abs(value - med))
                    AS DECIMAL(30,10)), 6) AS DOUBLE) AS mad
        FROM events e JOIN med m USING (event_type)
        GROUP BY e.event_type, m.med
    )
    SELECT e.event_type, CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN abs(value - med) > 3 * mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           med, mad
    FROM events e JOIN mad USING (event_type)
    GROUP BY e.event_type, med, mad
    """,
)
def q167_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via median absolute deviation — the
    companion to q158's z-score that heavy-tailed metrics need (mean
    and stddev are themselves dragged by the outliers; medians are
    not). Three passes, each a tiny per-type aggregate broadcast into
    the next linear scan: median, MAD, exceedance count. Exact
    median keeps the oracle hash-tight; at fact scale each median
    swaps for approx_percentile and the shape is unchanged."""
    e = _t(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(
        F.round(
            F.expr("percentile(value, 0.5)").cast("decimal(30,10)"), 6
        )
        .cast("double")
        .alias("med")
    )
    mad = (
        e.join(F.broadcast(med), "event_type")
        .groupBy("event_type", "med")
        .agg(
            F.round(
                F.expr("percentile(abs(value - med), 0.5)").cast(
                    "decimal(30,10)"
                ),
                6,
            )
            .cast("double")
            .alias("mad")
        )
    )
    return (
        e.join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "med", "mad")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(
                F.when(
                    F.abs(F.col("value") - F.col("med"))
                    > 3 * F.col("mad"),
                    1,
                ).otherwise(0)
            ).alias("n_outliers"),
        )
        .select("event_type", "n_events", "n_outliers", "med", "mad")
    )


@query(
    "q168_bm25_search",
    """
    WITH tok AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(lower(text)), '\\s+'))
                   AS token
        FROM documents
    ), doclen AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok
        WHERE token <> '' GROUP BY doc_id
    ), stats AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(round(CAST(avg(dl) AS DECIMAL(30,10)), 6) AS DOUBLE)
                   AS avg_dl
        FROM doclen
    ), tf AS (
        SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
        FROM tok WHERE token IN ('table', 'scan', 'value')
        GROUP BY doc_id, token
    ), df AS (
        SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf
        GROUP BY token
    ), scored AS (
        SELECT tf.doc_id,
               sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                   * (tf * 2.2)
                   / (tf + 1.2 * (0.25 + 0.75 * dl / avg_dl))) AS score
        FROM tf
        JOIN df USING (token)
        JOIN doclen USING (doc_id)
        CROSS JOIN stats
        GROUP BY tf.doc_id
    )
    SELECT doc_id,
           CAST(round(CAST(score AS DECIMAL(30,10)), 4) AS DOUBLE)
               AS bm25
    FROM scored
    ORDER BY round(CAST(score AS DECIMAL(30,10)), 4) DESC, doc_id ASC
    LIMIT 20
    """,
)
def q168_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval (k1=1.2, b=0.75) for the query
    {table, scan, value} — the ranking layer over q160's inverted
    index. Every statistic is a mergeable aggregate: doc lengths and
    term frequencies partial-combine map-side, document frequencies
    and the corpus stats are tiny broadcasts, and the final score is
    one per-doc sum over at most |query| terms. No corpus-sized state
    anywhere except the (doc, query-term) tf table, which the IN
    filter prunes during the explode — at 100 TB this is one scan +
    three broadcast joins."""
    from ..functions.text import tokens_table

    d = _t(spark, sf_dir, "documents")
    tok = tokens_table(d, "doc_id", "text")
    doclen = tok.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = doclen.agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("dl").cast("decimal(30,10)"), 6)
        .cast("double")
        .alias("avg_dl"),
    )
    tf = (
        tok.where(F.col("token").isin("table", "scan", "value"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    df_ = tf.groupBy("token").agg(F.count("*").alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    score_term = idf * (F.col("tf") * 2.2) / (
        F.col("tf")
        + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avg_dl"))
    )
    scored = (
        tf.join(F.broadcast(df_), "token")
        .join(doclen, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(score_term).alias("score"))
    )
    bm25 = F.round(F.col("score").cast("decimal(30,10)"), 4).cast("double")
    return (
        scored.select("doc_id", bm25.alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(20)
    )


@query(
    "q169_chi_square",
    """
    WITH obs AS (
        SELECT event_type, dayofweek(ts) AS dow,
               CAST(count(*) AS BIGINT) AS o
        FROM events GROUP BY event_type, dayofweek(ts)
    ), rowt AS (
        SELECT event_type, CAST(sum(o) AS BIGINT) AS rt FROM obs
        GROUP BY event_type
    ), colt AS (
        SELECT dow, CAST(sum(o) AS BIGINT) AS ct FROM obs GROUP BY dow
    ), tot AS (
        SELECT CAST(sum(o) AS BIGINT) AS n FROM obs
    )
    SELECT obs.event_type,
           CAST(count(*) AS BIGINT) AS n_cells,
           CAST(round(CAST(sum(
               (o - (rt * ct / CAST(n AS DOUBLE)))
               * (o - (rt * ct / CAST(n AS DOUBLE)))
               / (rt * ct / CAST(n AS DOUBLE))
           ) AS DECIMAL(30,10)), 4) AS DOUBLE) AS chi2_contrib
    FROM obs
    JOIN rowt USING (event_type)
    JOIN colt USING (dow)
    CROSS JOIN tot
    GROUP BY obs.event_type
    """,
)
def q169_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence scan: is event-type activity uniform
    across weekdays, per type? The contingency table is one combinable
    (type, dow) count; marginals and the grand total are aggregates OF
    that tiny table (|types|·7 cells), so nothing after the first scan
    touches the corpus. Per-type chi² contributions come from joining
    the cell table to its own marginals — the A/B-test and
    drift-detection primitive, in one linear pass plus toy-sized
    joins. Spark's dayofweek is 1-based Sunday; the oracle's is
    0-based, aligned by subtracting 1 JVM-side."""
    e = _t(spark, sf_dir, "events")
    obs = e.groupBy(
        "event_type", (F.dayofweek("ts") - 1).alias("dow")
    ).agg(F.count("*").alias("o"))
    rowt = obs.groupBy("event_type").agg(F.sum("o").alias("rt"))
    colt = obs.groupBy("dow").agg(F.sum("o").alias("ct"))
    tot = obs.agg(F.sum("o").alias("n"))
    expected = (
        F.col("rt") * F.col("ct") / F.col("n").cast("double")
    )
    contrib = (F.col("o") - expected) * (F.col("o") - expected) / expected
    return (
        obs.join(F.broadcast(rowt), "event_type")
        .join(F.broadcast(colt), "dow")
        .crossJoin(F.broadcast(tot))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_cells"),
            _sround(F.sum(contrib), 4).alias("chi2_contrib"),
        )
    )


@query(
    "q170_ivm_retraction",
    """
    SELECT event_type, date_trunc('day', ts) AS day,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS value_cents
    FROM events
    WHERE NOT (event_id % 7 = 0 OR event_type = 'error')
    GROUP BY event_type, date_trunc('day', ts)
    """,
)
def q170_ivm_retraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance under RETRACTION — the CDC delete
    path q162 doesn't exercise: the stored rollup is built over ALL
    events, then a delete feed (every 7th event, plus every 'error'
    event — so entire groups drain to zero) arrives as NEGATED partial
    aggregates and merges in. merge_rollup's contract is
    oracle-verified end to end: additive measures subtract exactly
    (integer cents), and groups whose count reaches 0 VANISH from the
    view (insert-then-delete round-trips to absence — the 'error'
    groups prove it), because a 0-count group with a stale sum is a
    silently wrong average downstream. The oracle states the semantic
    guarantee: the maintained view EQUALS the full recompute over the
    surviving rows. Same 100 TB shape as q162: per-batch cost is
    O(delta) plus a |groups|-sized merge join — history is never
    re-read, even for deletes."""
    from ..operators.ivm import merge_rollup, rollup_partial

    e = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.date_trunc("day", "ts").alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    keys = ["event_type", "day"]
    base = rollup_partial(e, keys, {"value_cents": "cents"})
    deleted = e.where(
        (F.pmod("event_id", F.lit(7)) == 0)
        | (F.col("event_type") == "error")
    )
    # CDC convention: a delete is the row's partial aggregate negated
    retract = rollup_partial(deleted, keys, {"value_cents": "cents"}).select(
        *keys,
        (-F.col("n")).alias("n"),
        (-F.col("value_cents")).alias("value_cents"),
    )
    return merge_rollup(base, retract, keys)


@query(
    "q171_ivm_minmax_rescan",
    """
    SELECT event_type, date_trunc('day', ts) AS day,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS value_cents,
           CAST(min(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS min_cents,
           CAST(max(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS max_cents
    FROM events
    WHERE NOT (event_id % 7 = 0 OR event_type = 'error')
    GROUP BY event_type, date_trunc('day', ts)
    """,
)
def q171_ivm_minmax_rescan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVM for NON-INVERTIBLE measures under deletes — the case the
    append-only merge (merge_rollup_monotonic) refuses outright:
    a view carrying min/max cannot undo the deletion of its current
    extremum from the aggregate alone. maintain_rollup_rescan's
    treatment, oracle-verified here: count/sum maintain algebraically
    (appends add, retractions subtract — history untouched); min/max
    combine with least/greatest for the append batch; and ONLY the
    groups the delete batch touches are recomputed, by a targeted scan
    of the post-delete source bounded to the batch-sized affected-key
    set (broadcast into the scan, where partition pruning keeps the
    rescan near the affected data). The stored view starts from 80% of
    events, the remaining 20% arrives as the append batch, and every
    7th event plus ALL 'error' events arrive as the delete batch. The
    'error' groups drain to zero THROUGH THE RESCAN PATH specifically:
    they are retraction-touched, so their min/max resolves from the
    targeted post-delete source scan — which finds NO rows for them —
    while the additive count nets to zero and drops the group, proving
    drop-to-absence holds for min/max views too (not just q170's
    additive path; pinned in
    tests/test_ivm_rescan.py::test_whole_group_drained_through_rescan_path).
    Oracle = full recompute over the surviving rows — per-batch cost
    O(batch) + O(history of affected groups), never O(history)."""
    from ..operators.ivm import (
        maintain_rollup_rescan,
        rollup_partial_monotonic,
    )

    e = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.date_trunc("day", "ts").alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    keys = ["event_type", "day"]
    hist = e.where(F.pmod("event_id", F.lit(10)) < 8)
    appends = e.where(F.pmod("event_id", F.lit(10)) >= 8)
    deleted = e.where(
        (F.pmod("event_id", F.lit(7)) == 0)
        | (F.col("event_type") == "error")
    )
    source = e.where(
        ~((F.pmod("event_id", F.lit(7)) == 0)
          | (F.col("event_type") == "error"))
    )
    base = rollup_partial_monotonic(
        hist,
        keys,
        {"value_cents": "cents"},
        {"min_cents": "cents"},
        {"max_cents": "cents"},
    )
    return maintain_rollup_rescan(
        base,
        appends,
        deleted,
        keys,
        source,
        {"value_cents": "cents"},
        {"min_cents": "cents"},
        {"max_cents": "cents"},
    )


@query(
    "q172_stream_cdc_rollup",
    """
    SELECT event_type, date_trunc('day', ts) AS day,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS value_cents
    FROM events
    WHERE event_id % 7 <> 0
    GROUP BY event_type, date_trunc('day', ts)
    """,
)
def q172_stream_cdc_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming IVM over a CDC feed
    (operators/ivm.py::streaming_cdc_rollup) — q163's maintenance loop
    with DELETES in the stream: the events table arrives as 'I' rows
    across two availableNow micro-batches, interleaved with 'D'
    rows for every 7th event. Each batch's NET partial (inserts +1/+x,
    deletes −1/−x in ONE map-side-combinable aggregate — retraction
    costs no extra shuffle) merges into versioned parquet state;
    groups netting to zero vanish. Cross-batch coverage is
    DETERMINISTIC, not left to a repartition shuffle: file A carries
    even-event inserts + odd-event deletes, file B the mirror image,
    so whichever file drains first, some deletes are processed in a
    batch BEFORE their matching insert (and some after) — the
    commutative-merge contract is exercised in both directions every
    run, with two batches instead of four (each extra batch is ~0.5s
    of fixed checkpoint machinery, not data). Drained state equals the
    recompute over surviving rows — the oracle's contract. At 100 TB
    this is the Debezium-style change-feed dashboard: per-batch cost
    O(batch) + |groups|, history never re-read, deletes first-class."""
    import os

    from ..operators.ivm import read_rollup_state, streaming_cdc_rollup

    configure_session(spark)
    work = tempfile.mkdtemp(prefix="ehs_cdc_")
    src_dir = os.path.join(work, "feed")
    e = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.date_trunc("day", "ts").alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    inserts = e.withColumn("op", F.lit("I"))
    deletes = e.where(F.pmod("event_id", F.lit(7)) == 0).withColumn(
        "op", F.lit("D")
    )
    feed = inserts.unionByName(deletes)
    # two deterministic files: (even I, odd D) vs (odd I, even D) —
    # guarantees delete-before-insert pairs across the batch boundary
    # in whichever order the files drain. One parallel job: hash-
    # repartition on the file tag writes both files at once. Tags are
    # 1/2, not 0/1: murmur3(0) and murmur3(1) collide mod 2 (both
    # files would land in one task/file), murmur3(1)/murmur3(2) split.
    even = F.pmod("event_id", F.lit(2)) == 0
    tag = F.when(
        (even & (F.col("op") == "I")) | (~even & (F.col("op") == "D")),
        F.lit(1),
    ).otherwise(F.lit(2))
    feed.repartition(2, tag).write.mode("overwrite").parquet(src_dir)

    stream = (
        spark.readStream.schema(read_parquet_state(spark, src_dir).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    state = os.path.join(work, "state")
    os.makedirs(state, exist_ok=True)
    streaming_cdc_rollup(
        stream,
        ["event_type", "day"],
        {"value_cents": "cents"},
        state,
        os.path.join(work, "ckpt"),
    )
    # check_cols: this feed is consistent by construction (deletes
    # mirror prior inserts), so the read-time corruption guard is a
    # free assertion — a nonzero sum on a drained group would raise.
    return read_rollup_state(spark, state, check_cols=["value_cents"])


@query(
    "q173_embedding_covariance",
    """
    WITH pos AS (SELECT unnest(range(1, 9)) AS p),
    u AS (
        SELECT e.vec_id, p.p AS p, e.embedding[p.p]::DOUBLE AS x
        FROM embeddings e, pos p
    )
    SELECT a.p AS i, b.p AS j,
           CAST(count(*) AS BIGINT) AS n,
           CAST(round(CAST(covar_samp(a.x, b.x) AS DECIMAL(30,10)), 6)
                AS DOUBLE) AS cov
    FROM u a JOIN u b ON a.vec_id = b.vec_id AND a.p <= b.p
    GROUP BY a.p, b.p
    """,
)
def q173_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed covariance over the embedding corpus (first 8
    dimensions) — the second-moment aggregation behind PCA / ZCA
    whitening / Mahalanobis OOD scoring. The DECLARED plan is the
    scale path: one (count, Σx, XᵀX) Gram partial per PARTITION from
    an Arrow-batched numpy fold, merged through a partitions×d²-row
    posexplode+sum — the corpus never shuffles and never expands,
    where the oracle's relational form (self-join on vec_id after a
    d-way unnest) expands every row d× and shuffles the expansion.
    Both reduce to cov(i,j) = (G_ij − S_i·S_j/n)/(n−1) at 6dp. The
    d×d result is bounded, so the eigendecomposition that turns it
    into a whitening transform is a driver-side numpy step — the same
    bounded-driver contract as the IVF pivot collection."""
    from ..functions.similarity import embedding_covariance

    e = _t(spark, sf_dir, "embeddings")
    return embedding_covariance(e, "embedding", dims=list(range(1, 9)))


@query(
    "q174_mahalanobis_ood",
    """
    WITH s AS (
        SELECT
            CAST(round(CAST(avg(embedding[1]::DOUBLE)
                 AS DECIMAL(30,10)), 6) AS DOUBLE) AS m1,
            CAST(round(CAST(avg(embedding[2]::DOUBLE)
                 AS DECIMAL(30,10)), 6) AS DOUBLE) AS m2,
            CAST(round(CAST(covar_samp(embedding[1]::DOUBLE,
                 embedding[1]::DOUBLE) AS DECIMAL(30,10)), 6)
                 AS DOUBLE) AS s11,
            CAST(round(CAST(covar_samp(embedding[1]::DOUBLE,
                 embedding[2]::DOUBLE) AS DECIMAL(30,10)), 6)
                 AS DOUBLE) AS s12,
            CAST(round(CAST(covar_samp(embedding[2]::DOUBLE,
                 embedding[2]::DOUBLE) AS DECIMAL(30,10)), 6)
                 AS DOUBLE) AS s22
        FROM embeddings
    ), scored AS (
        SELECT vec_id,
               CAST(round(CAST(
                   (s22 * (embedding[1]::DOUBLE - m1)
                        * (embedding[1]::DOUBLE - m1)
                    - 2 * s12 * (embedding[1]::DOUBLE - m1)
                        * (embedding[2]::DOUBLE - m2)
                    + s11 * (embedding[2]::DOUBLE - m2)
                        * (embedding[2]::DOUBLE - m2))
                   / (s11 * s22 - s12 * s12)
               AS DECIMAL(30,10)), 4) AS DOUBLE) AS md2
        FROM embeddings, s
    )
    SELECT vec_id, md2 FROM scored ORDER BY md2 DESC, vec_id LIMIT 20
    """,
)
def q174_mahalanobis_ood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covariance-aware OOD scoring: squared Mahalanobis distance of
    every embedding to the corpus distribution over dims (1,2), top-20
    outliers. The moment scalars (means + covariances, both rounded
    through DECIMAL at 6dp so the engines score against IDENTICAL
    constants) come from the shuffle-free Gram aggregation
    (embedding_covariance — 3 numbers collected, the bounded-driver
    contract) and are folded as literals into ONE scoring scan using
    the 2-dim closed-form inverse — the same expression tree the
    oracle states, so md² matches bit-for-bit at 4dp. The generic-d
    operator (mahalanobis_scores: driver-side eigen-inverse broadcast
    into an Arrow-batched quadratic form) is pinned against this
    closed form in tests. Top-k by score is the usual window-free
    orderBy+limit on a (id, score) projection."""
    from ..functions.similarity import embedding_covariance

    e = _t(spark, sf_dir, "embeddings")
    cov = {
        (r["i"], r["j"]): r["cov"]
        for r in embedding_covariance(e, "embedding", dims=[1, 2]).collect()
    }
    m = e.select(
        *[
            F.round(
                F.avg(F.element_at("embedding", p).cast("double")).cast(
                    "decimal(30,10)"
                ),
                6,
            )
            .cast("double")
            .alias(f"m{p}")
            for p in (1, 2)
        ]
    ).first()
    s11, s12, s22 = (
        F.lit(float(cov[(1, 1)])),
        F.lit(float(cov[(1, 2)])),
        F.lit(float(cov[(2, 2)])),
    )
    dx1 = F.element_at("embedding", 1).cast("double") - F.lit(float(m["m1"]))
    dx2 = F.element_at("embedding", 2).cast("double") - F.lit(float(m["m2"]))
    md2 = F.round(
        (
            (s22 * dx1 * dx1 - F.lit(2) * s12 * dx1 * dx2 + s11 * dx2 * dx2)
            / (s11 * s22 - s12 * s12)
        ).cast("decimal(30,10)"),
        4,
    ).cast("double")
    return (
        e.select("vec_id", md2.alias("md2"))
        .orderBy(F.desc("md2"), F.asc("vec_id"))
        .limit(20)
    )


@query(
    "q175_ivm_multiset_minmax",
    """
    SELECT event_type, date_trunc('day', ts) AS day,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS sum_v,
           CAST(min(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS min_v,
           CAST(max(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS max_v
    FROM events
    WHERE NOT (event_id % 5 = 0 OR event_type = 'signup')
    GROUP BY event_type, date_trunc('day', ts)
    """,
)
def q175_ivm_multiset_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min/max under deletes WITHOUT a rescan — the multiset
    strategy (operators/ivm.py::multiset_minmax_view): the stored
    rollup keeps (keys, value)-granularity counts, so a delete is an
    ordinary negative delta (counting a multiset IS invertible) and
    min/max become derived reads over values with surviving count > 0.
    Here the value-level state is built over all events, a delete
    batch (every 5th event + ALL 'signup' events — extrema included,
    whole groups included) merges as negated partials through the SAME
    merge_rollup as every other delta, and the view read yields
    count/sum/min/max per group. Oracle = recompute over survivors.
    The trade vs maintain_rollup_rescan is stated in the docstring:
    state O(|groups| x |distinct values|) — right for bounded value
    domains (cents here), while unbounded domains take the targeted
    rescan. Per-batch cost O(batch) + |state| merge join; read is one
    |state| aggregate; history never re-read."""
    from ..operators.ivm import (
        merge_rollup,
        multiset_minmax_view,
        rollup_partial,
    )

    e = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.date_trunc("day", "ts").alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    keys = ["event_type", "day"]
    vkeys = keys + ["cents"]
    base = rollup_partial(e, vkeys, {})
    deleted = e.where(
        (F.pmod("event_id", F.lit(5)) == 0)
        | (F.col("event_type") == "signup")
    )
    retract = rollup_partial(deleted, vkeys, {}).select(
        *vkeys, (-F.col("n")).alias("n")
    )
    state = merge_rollup(base, retract, vkeys)
    return multiset_minmax_view(state, keys, "cents").select(
        *keys,
        "n",
        "sum_v",
        "min_v",
        "max_v",
    )


@query(
    "q176_dedup_incremental",
    _DOUBLED_DOCS
    + """
    , fp AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 < 2 THEN 0 ELSE 1 END AS b,
               md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
                   AS fingerprint
        FROM all_docs
    )
    SELECT doc_id, fingerprint,
           first_value(doc_id) OVER (
               PARTITION BY fingerprint ORDER BY b, doc_id
           ) AS survivor_id,
           doc_id = first_value(doc_id) OVER (
               PARTITION BY fingerprint ORDER BY b, doc_id
           ) AS kept
    FROM fp
    """,
)
def q176_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental CROSS-RUN exact dedup against persisted fingerprint
    state (operators/dedup_state.py) — the production shape the batch
    operators don't cover: batch N+1 is deduplicated against the
    accumulated store of batches 1..N without recomputing (or even
    re-reading) the old corpus. The doubled-documents corpus (q23's
    planted-duplicate construction) is split into two batches on
    doc_id%3 — the +100000 copy of a doc shifts its residue, so
    duplicates cross the batch boundary in BOTH directions: some
    copies meet their original in the fingerprint state
    (cross-batch), some meet it inside their own batch. The oracle
    states the recompute contract: every doc's survivor is the
    FIRST-SEEN holder of its content (earliest batch, lowest id
    within it) — i.e. two sequential incremental applies equal the
    full-corpus window computation. Per-batch cost: one fingerprint
    scan + one state join + an O(new fingerprints) append; state is
    |distinct contents| rows, never the corpus."""
    from ..operators.dedup_state import dedup_exact_incremental

    work = tempfile.mkdtemp(prefix="ehs_dedupstate_")
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    doubled = d.unionAll(
        d.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    )
    b0 = doubled.where(F.pmod("doc_id", F.lit(3)) < 2)
    b1 = doubled.where(F.pmod("doc_id", F.lit(3)) >= 2)
    v0 = dedup_exact_incremental(b0, work, 0)
    v1 = dedup_exact_incremental(b1, work, 1)
    return v0.unionByName(v1).select(
        F.col("id").alias("doc_id"), "fingerprint", "survivor_id", "kept"
    )


@query(
    "q177_minhash_incremental",
    _MINHASH_SQL
    + """
    , bands AS (
        SELECT id, seed // 4 AS band,
               md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY seed)) AS band_key
        FROM sigs GROUP BY id, seed // 4
    )
    SELECT DISTINCT a.id AS id_a, b.id AS id_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_key = b.band_key AND a.id < b.id
    """,
)
def q177_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash-LSH candidate generation against persisted
    band state (operators/dedup_state.py::minhash_incremental): the
    documents corpus arrives as two batches (doc_id%3 split), each
    batch computes signatures for ITS docs only, joins its band keys
    against the accumulated band store (cross-run candidates) and
    against itself (intra-batch), then appends its keys. The oracle is
    byte-identical to q29's full-corpus LSH SQL: banding is per-doc
    deterministic, so every colliding pair is emitted exactly once, in
    the batch that completes it — the union of the two incremental
    applies EQUALS the one-shot self-join. The per-batch pair sets are
    provably disjoint (a later batch's pairs always involve one of its
    own docs), so the union needs no dedup shuffle across applies."""
    from ..operators.dedup_state import minhash_incremental

    work = tempfile.mkdtemp(prefix="ehs_bandstate_")
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    b0 = d.where(F.pmod("doc_id", F.lit(3)) < 2)
    b1 = d.where(F.pmod("doc_id", F.lit(3)) >= 2)
    p0 = minhash_incremental(b0, work, 0)
    p1 = minhash_incremental(b1, work, 1)
    return p0.unionByName(p1)


# ----------------------------------------------------------------------
# q178: generic-d Mahalanobis, oracle-verified at d=4
# ----------------------------------------------------------------------
# The 4x4 inverse is stated ONCE as cofactor/adjugate formula strings
# over the symmetric covariance names s11..s44 and evaluated by BOTH
# engines — DuckDB parses them as SQL arithmetic, the Spark side
# eval()s the identical strings in Python (same IEEE-754 ops, same
# association) — then every inverse entry is rounded through the
# corpus-wide DECIMAL(30,10)→6dp contract, so the quadratic form runs
# on bit-identical constants on both sides.


def _mahal4_det3(m) -> str:
    """3x3 determinant formula over a nested list of name strings."""
    (a, b, c), (d, e, f), (g, h, i) = m
    return (
        f"({a}*({e}*{i} - {f}*{h}) - {b}*({d}*{i} - {f}*{g})"
        f" + {c}*({d}*{h} - {e}*{g}))"
    )


def _mahal4_formulas() -> tuple[str, dict[tuple[int, int], str]]:
    """(det4, {(i,j): cofactor}) formula strings for a symmetric 4x4
    named s11..s44 (1-based, i<=j). inv(i,j) = cofactor(i,j)/det —
    symmetric, so the upper triangle is the whole inverse. Valid as
    both SQL and Python arithmetic."""
    names = [
        [f"s{min(i, j) + 1}{max(i, j) + 1}" for j in range(4)]
        for i in range(4)
    ]

    def minor(r, c):
        return [
            [names[i][j] for j in range(4) if j != c]
            for i in range(4)
            if i != r
        ]

    det = (
        f"({names[0][0]}*{_mahal4_det3(minor(0, 0))}"
        f" - {names[0][1]}*{_mahal4_det3(minor(0, 1))}"
        f" + {names[0][2]}*{_mahal4_det3(minor(0, 2))}"
        f" - {names[0][3]}*{_mahal4_det3(minor(0, 3))})"
    )
    cof = {}
    for i in range(4):
        for j in range(i, 4):
            sign = "" if (i + j) % 2 == 0 else "-"
            cof[(i + 1, j + 1)] = f"({sign}{_mahal4_det3(minor(i, j))})"
    return det, cof


_MAHAL4_DET, _MAHAL4_COF = _mahal4_formulas()

_MAHAL4_SQL = (
    """
    WITH s AS (
        SELECT
"""
    + ",\n".join(
        "            CAST(round(CAST(avg(embedding[{p}]::DOUBLE)"
        " AS DECIMAL(30,10)), 6) AS DOUBLE) AS m{p}".format(p=p)
        for p in (1, 2, 3, 4)
    )
    + ",\n"
    + ",\n".join(
        "            CAST(round(CAST(covar_samp(embedding[{i}]::DOUBLE,"
        " embedding[{j}]::DOUBLE) AS DECIMAL(30,10)), 6) AS DOUBLE)"
        " AS s{i}{j}".format(i=i, j=j)
        for i in range(1, 5)
        for j in range(i, 5)
    )
    + f"""
        FROM embeddings
    ), d AS (
        SELECT *, {_MAHAL4_DET} AS det FROM s
    ), w AS (
        SELECT *,
"""
    + ",\n".join(
        "            CAST(round(CAST({c} / det AS DECIMAL(30,10)), 6)"
        " AS DOUBLE) AS w{i}{j}".format(c=_MAHAL4_COF[(i, j)], i=i, j=j)
        for i in range(1, 5)
        for j in range(i, 5)
    )
    + """
        FROM d
    ), scored AS (
        SELECT vec_id,
               CAST(round(CAST(
                   """
    + "\n                   + ".join(
        (
            "w{i}{i} * (embedding[{i}]::DOUBLE - m{i})"
            " * (embedding[{i}]::DOUBLE - m{i})".format(i=i)
            if i == j
            else "2 * w{i}{j} * (embedding[{i}]::DOUBLE - m{i})"
            " * (embedding[{j}]::DOUBLE - m{j})".format(i=i, j=j)
        )
        for i in range(1, 5)
        for j in range(i, 5)
    )
    + """
               AS DECIMAL(30,10)), 4) AS DOUBLE) AS md2
        FROM embeddings, w
    )
    SELECT vec_id, md2 FROM scored ORDER BY md2 DESC, vec_id LIMIT 20
    """
)


@query("q178_mahalanobis_d4", _MAHAL4_SQL)
def q178_mahalanobis_d4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic-d Mahalanobis OOD scoring, oracle-verified at d=4 —
    q174's contract beyond the 2-dim closed form. The moment scalars
    (4 means + 10 covariances) come from the shuffle-free Gram
    aggregation rounded through the 6dp DECIMAL contract (identical
    constants on both engines, q173's proof), the 4x4 inverse is the
    cofactor/adjugate formula stated ONCE as shared arithmetic strings
    (the oracle evaluates them in SQL, this side eval()s the same
    strings in Python — same IEEE ops, same association), every
    inverse entry re-rounds through the 6dp contract, and the
    quadratic form folds the 10 rounded entries as literals into ONE
    scoring scan with the oracle's exact expression tree — md²
    matches bit-for-bit at 4dp. The d-agnostic eigen-inverse kernel
    (mahalanobis_scores) is pinned against this cofactor path in
    tests/test_similarity_moments.py. Top-20 outliers by score."""
    from ..functions.similarity import _round6_py, embedding_covariance

    e = _t(spark, sf_dir, "embeddings")
    cov = {
        (r["i"], r["j"]): float(r["cov"])
        for r in embedding_covariance(
            e, "embedding", dims=[1, 2, 3, 4]
        ).collect()
    }
    m = e.select(
        *[
            F.round(
                F.avg(F.element_at("embedding", p).cast("double")).cast(
                    "decimal(30,10)"
                ),
                6,
            )
            .cast("double")
            .alias(f"m{p}")
            for p in (1, 2, 3, 4)
        ]
    ).first()
    env = {f"s{i}{j}": cov[(i, j)] for i in range(1, 5) for j in range(i, 5)}
    det = eval(_MAHAL4_DET, {"__builtins__": {}}, env)  # shared formula
    w = {
        (i, j): _round6_py(
            eval(_MAHAL4_COF[(i, j)], {"__builtins__": {}}, env) / det
        )
        for i in range(1, 5)
        for j in range(i, 5)
    }
    dx = {
        p: F.element_at("embedding", p).cast("double")
        - F.lit(float(m[f"m{p}"]))
        for p in (1, 2, 3, 4)
    }
    md2 = None
    for i in range(1, 5):
        for j in range(i, 5):
            term = (
                F.lit(w[(i, j)]) * dx[i] * dx[j]
                if i == j
                else F.lit(2) * F.lit(w[(i, j)]) * dx[i] * dx[j]
            )
            md2 = term if md2 is None else md2 + term
    md2 = F.round(md2.cast("decimal(30,10)"), 4).cast("double")
    return (
        e.select("vec_id", md2.alias("md2"))
        .orderBy(F.desc("md2"), F.asc("vec_id"))
        .limit(20)
    )


@query(
    "q180_ivf_append",
    """
    WITH half AS (
        SELECT CAST(count(*) AS BIGINT) // 2 AS h FROM embeddings
    ), p AS (
        SELECT vec_id AS list_id, embedding::DOUBLE[] AS pivot
        FROM embeddings ORDER BY vec_id LIMIT 16
    ), asg AS (
        SELECT vec_id, list_id FROM (
            SELECT e.vec_id, p.list_id,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_cosine_similarity(
                           e.embedding::DOUBLE[], p.pivot) DESC,
                           p.list_id ASC
                   ) AS rn
            FROM embeddings e, p
        ) WHERE rn = 1
    )
    SELECT list_id, CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(vec_id) AS BIGINT) AS sum_ids
    FROM asg GROUP BY list_id
    """,
)
def q180_ivf_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF index maintenance: the index is BUILT on the
    first half of the corpus (vec_id below the midpoint — which
    contains the nlist lowest ids, so the pivots equal a full build's)
    and the second half is APPENDED against the frozen pivots without
    any rebuild (functions/ann_index.py::append_ivf_index — one linear
    assignment scan, zero shuffle, parquet append into the existing
    list_id partition dirs). Because assignment depends only on the
    pivots, build-then-append is CONTENT-IDENTICAL to building over
    the union; the oracle restates the whole index from scratch —
    every vector's argmax assignment to the 16 lowest-id pivots,
    aggregated per list — so any drift in the append path (wrong
    pivots, missed rows, double rows on replay) breaks the hash.
    Probe-level equality of the appended vs full-built index is
    additionally pinned row-for-row in tests/test_ann_index.py."""
    from ..functions.ann_index import append_ivf_index, build_ivf_index

    e = _t(spark, sf_dir, "embeddings")
    half = e.count() // 2
    idx_dir = tempfile.mkdtemp(prefix="ehs_ivf_append_")
    build_ivf_index(
        e.where(F.col("vec_id") < half), idx_dir, nlist=16
    )
    append_ivf_index(e.where(F.col("vec_id") >= half), idx_dir)
    index = read_parquet_state(spark, idx_dir)
    return index.groupBy("list_id").agg(
        F.count("*").alias("n_vecs"),
        F.sum("vec_id").alias("sum_ids"),
    ).select(F.col("list_id").cast("long").alias("list_id"),
             "n_vecs", "sum_ids")


@query(
    "q181_stream_dedup",
    _DOUBLED_DOCS
    + """
    , fp AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 < 2 THEN 0 ELSE 1 END AS b,
               md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
                   AS fingerprint
        FROM all_docs
    )
    SELECT doc_id, fingerprint,
           first_value(doc_id) OVER (
               PARTITION BY fingerprint ORDER BY b, doc_id
           ) AS survivor_id,
           doc_id = first_value(doc_id) OVER (
               PARTITION BY fingerprint ORDER BY b, doc_id
           ) AS kept
    FROM fp
    """,
)
def q181_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING incremental dedup — q176's contract with the
    micro-batch machinery in the loop: the doubled-docs corpus arrives
    as two files whose modification times are explicitly ordered (file
    A = the doc_id%3<2 rows, file B = the rest; the file source drains
    oldest-first, so arrival order IS the oracle's batch order), and
    each availableNow micro-batch runs dedup_exact_incremental against
    the accumulated fingerprint store inside foreachBatch
    (operators/dedup_state.py::streaming_dedup_exact). Micro-batch id
    doubles as the state batch id, so a replayed batch overwrites both
    its state append and its verdict partition — the loop is
    idempotent under at-least-once. Oracle: identical to q176 — the
    streamed verdict union equals the full-corpus first-seen window
    recompute."""
    import os
    import time

    from ..operators.dedup_state import (
        read_dedup_verdicts,
        streaming_dedup_exact,
    )

    configure_session(spark)
    work = tempfile.mkdtemp(prefix="ehs_streamdedup_")
    feed = os.path.join(work, "feed")
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    doubled = d.unionAll(
        d.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    )
    doubled.where(F.pmod("doc_id", F.lit(3)) < 2).coalesce(1).write.mode(
        "overwrite"
    ).parquet(feed)
    import glob as _glob

    parts_a = set(_glob.glob(os.path.join(feed, "part-*")))
    doubled.where(F.pmod("doc_id", F.lit(3)) >= 2).coalesce(1).write.mode(
        "append"
    ).parquet(feed)
    parts_b = set(_glob.glob(os.path.join(feed, "part-*"))) - parts_a
    # explicit mtime ordering: the file source sorts by modification
    # time, so this pins file A = micro-batch 0 deterministically
    # (back-to-back writes can otherwise land in the same clock tick)
    t0 = time.time() - 1000
    for p in parts_a:
        os.utime(p, (t0, t0))
    for p in parts_b:
        os.utime(p, (t0 + 100, t0 + 100))
    stream = (
        spark.readStream.schema(doubled.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    streaming_dedup_exact(
        stream,
        os.path.join(work, "state"),
        os.path.join(work, "ckpt"),
        os.path.join(work, "out"),
    )
    return read_dedup_verdicts(spark, os.path.join(work, "out")).select(
        F.col("id").alias("doc_id"), "fingerprint", "survivor_id", "kept"
    )


@query(
    "q182_dedup_bucketed_state",
    _DOUBLED_DOCS
    + """
    , fp AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 < 2 THEN 0 ELSE 1 END AS b,
               md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
                   AS fingerprint
        FROM all_docs
    )
    SELECT doc_id, fingerprint,
           first_value(doc_id) OVER (
               PARTITION BY fingerprint ORDER BY b, doc_id
           ) AS survivor_id,
           doc_id = first_value(doc_id) OVER (
               PARTITION BY fingerprint ORDER BY b, doc_id
           ) AS kept
    FROM fp
    """,
)
def q182_dedup_bucketed_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q176's incremental dedup on the BUCKETED state layout
    (operators/dedup_state.py::dedup_exact_incremental_bucketed) —
    the shuffle-at-scale variant under the same oracle: state lives in
    a parquet table CLUSTERED BY fingerprint, so the per-batch state
    join shuffles only the new batch into the bucket layout while the
    accumulated state scan stays exchange-free (plan-asserted in
    test_dedup_state.py; at 10^11 fingerprints that's the difference
    between an O(state) and an O(batch) shuffle per ingest). Identical
    first-seen semantics, identical oracle — the physical layout is
    the only thing that changed, which is exactly what the oracle
    equality proves."""
    from ..operators.dedup_state import dedup_exact_incremental_bucketed

    table = "ehs_q182_state"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    loc = tempfile.mkdtemp(prefix="ehs_q182_state_")
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    doubled = d.unionAll(
        d.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    )
    b0 = doubled.where(F.pmod("doc_id", F.lit(3)) < 2)
    b1 = doubled.where(F.pmod("doc_id", F.lit(3)) >= 2)
    v0 = dedup_exact_incremental_bucketed(b0, table, loc, 0, buckets=16)
    v1 = dedup_exact_incremental_bucketed(b1, table, loc, 1, buckets=16)
    return v0.unionByName(v1).select(
        F.col("id").alias("doc_id"), "fingerprint", "survivor_id", "kept"
    )


@query(
    "q183_embedding_incremental",
    """
    WITH all_vecs AS (
        SELECT vec_id, embedding FROM embeddings
        UNION ALL
        SELECT vec_id + 10000 AS vec_id, embedding FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cosine
    FROM all_vecs a JOIN all_vecs b ON a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) >= 0.95
    """,
)
def q183_embedding_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental embedding near-dup against persisted LSH signature
    state — the third dedup modality on the cross-run state pattern
    (exact fingerprints q176, MinHash bands q177, embeddings here):
    the doubled-embeddings corpus (q32's planted-duplicate
    construction) arrives as two batches (vec_id%3 split; the +10000
    copy shifts residue, so copies meet their original across the
    batch boundary in both directions), each batch collapses
    bit-identical vectors, hashes representatives into (table, sig)
    buckets, joins against the accumulated representative state plus
    itself, and exact-verifies candidates at cosine ≥ 0.95
    (operators/dedup_state.py::embedding_lsh_incremental). The oracle
    is q32's EXACT all-pairs truth — the union of the two incremental
    applies must recover every true pair (16 tables: a genuine
    non-identical 0.95 pair is missed w.p. ≈0.006; exact duplicates
    are found deterministically in every table), so recall against
    ground truth is checked end to end, not against the one-shot LSH."""
    from ..operators.dedup_state import embedding_lsh_incremental

    work = tempfile.mkdtemp(prefix="ehs_embstate_")
    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    doubled = e.unionAll(
        e.select((F.col("vec_id") + 10000).alias("vec_id"), "embedding")
    )
    b0 = doubled.where(F.pmod("vec_id", F.lit(3)) < 2)
    b1 = doubled.where(F.pmod("vec_id", F.lit(3)) >= 2)
    p0 = embedding_lsh_incremental(b0, work, 0)
    p1 = embedding_lsh_incremental(b1, work, 1)
    return p0.unionByName(p1)


@query(
    "q184_incremental_clusters",
    """
    WITH RECURSIVE toks AS (
        SELECT doc_id AS id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
        FROM documents
    ), sh AS (
        SELECT DISTINCT id, shingle FROM (
            SELECT id, array_to_string(t[i:i+2], ' ') AS shingle
            FROM (SELECT id, t, unnest(range(1, len(t)-1)) AS i FROM toks)
        ) WHERE shingle <> ''
    ), sizes AS (
        SELECT id, count(*) AS n_shingles FROM sh GROUP BY id
    ), shared AS (
        SELECT a.id AS id_a, b.id AS id_b, count(*) AS shared
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY a.id, b.id
    ), pairs AS (
        SELECT id_a, id_b
        FROM shared
        JOIN sizes sa ON id_a = sa.id
        JOIN sizes sb ON id_b = sb.id
        WHERE round(shared / (sa.n_shingles + sb.n_shingles - shared), 4)
              >= 0.5
    ), edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs
    ), nodes AS (SELECT DISTINCT src AS id FROM edges),
    reach(id, lab) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT e.src, r.lab FROM edges e JOIN reach r ON e.dst = r.id
    )
    SELECT id AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY id
    """,
)
def q184_incremental_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL connected components — q37's clustering maintained
    across pair batches instead of recomputed
    (operators/dedup_state.py::duplicate_clusters_incremental): the
    exact-jaccard pair set splits into two batches on (id_a+id_b)%2 —
    an adversarial split, since components commonly form across the
    boundary (a cluster built in batch 0 merges with nodes or whole
    clusters arriving in batch 1). Each apply contracts prior clusters
    to their labels, runs label propagation over the CONTRACTED graph
    only (nodes = touched clusters + new nodes; history edges never
    revisited), and remaps the stored labels through the batch-sized
    merge mapping. The oracle is byte-identical to q37's
    recursive-CTE transitive closure over ALL pairs — sequential
    applies must equal the one-shot clustering."""
    from ..operators.dedup_state import duplicate_clusters_incremental

    work = tempfile.mkdtemp(prefix="ehs_ccstate_")
    pairs = _jaccard_pairs_cached(spark, sf_dir).select("id_a", "id_b")
    b0 = pairs.where(F.pmod(F.col("id_a") + F.col("id_b"), F.lit(2)) == 0)
    b1 = pairs.where(F.pmod(F.col("id_a") + F.col("id_b"), F.lit(2)) == 1)
    duplicate_clusters_incremental(b0, work, 0)
    final = duplicate_clusters_incremental(b1, work, 1)
    return final.select(F.col("node_id").alias("doc_id"), "cluster_id")


@query(
    "q185_incremental_index",
    """
    WITH tok AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(lower(text)), '\\s+'))
                   AS token
        FROM documents
    ), per_doc AS (
        SELECT token, doc_id, count(*) AS n
        FROM tok WHERE token <> '' GROUP BY token, doc_id
    )
    SELECT token,
           CAST(count(*) AS BIGINT) AS df,
           CAST(sum(n) AS BIGINT) AS cf,
           (list(doc_id ORDER BY doc_id))[1:20] AS postings
    FROM per_doc GROUP BY token
    ORDER BY df DESC, token ASC LIMIT 50
    """,
)
def q185_incremental_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL inverted-index maintenance
    (operators/index_state.py): the documents corpus arrives as two
    batches (doc_id%3 split); each apply appends its postings and
    merges its (df, cf) partial into the versioned stats state through
    the same mergeable-partial algebra as every IVM rollup — the
    accumulated corpus is never re-tokenized. The read then serves
    q160's exact output FROM STATE: stats alone rank the tokens, and
    only the 50 winners' postings are fetched via a broadcast
    semi-join against the postings store. Oracle = q160's batch
    recompute over the full corpus, byte-identical — each document
    lives in exactly one batch, so df/cf partials merge exactly."""
    from ..operators.index_state import (
        inverted_index_incremental,
        read_index_top,
    )

    work = tempfile.mkdtemp(prefix="ehs_idxstate_")
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    b0 = d.where(F.pmod("doc_id", F.lit(3)) < 2)
    b1 = d.where(F.pmod("doc_id", F.lit(3)) >= 2)
    inverted_index_incremental(b0, work, 0)
    inverted_index_incremental(b1, work, 1)
    return read_index_top(spark, work, k=50, postings_cap=20)


@query(
    "q186_snapshot_state",
    """
    WITH snap AS (
        SELECT user_id, value AS balance, event_type AS last_type
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY user_id ORDER BY ts DESC, event_id DESC
            ) AS rn
            FROM events WHERE ts < TIMESTAMP '2024-01-16'
        ) WHERE rn = 1
    ), unioned AS (
        SELECT user_id, balance, last_type, 'I' AS op,
               CAST(NULL AS TIMESTAMP) AS ts, CAST(NULL AS BIGINT) AS event_id
        FROM snap
        UNION ALL
        SELECT user_id, value, event_type,
               CASE WHEN event_type = 'error' THEN 'D'
                    WHEN event_type = 'signup' THEN 'I'
                    ELSE 'U' END,
               ts, event_id
        FROM events WHERE ts >= TIMESTAMP '2024-01-16'
    )
    SELECT user_id, balance, last_type
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY user_id
            ORDER BY ts DESC NULLS LAST, event_id DESC NULLS LAST
        ) AS rn
        FROM unioned
    ) WHERE rn = 1 AND op <> 'D'
    """,
)
def q186_snapshot_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-backed CDC snapshot maintenance under OUT-OF-ORDER
    batches (operators/cdc.py::snapshot_apply_incremental): q46's feed
    is split by event_id PARITY — deliberately NOT by time, so every
    batch carries changes both older and newer than the other's —
    and applied sequentially into tombstoned, sequence-carrying
    persisted state. A naive apply_changes loop is provably wrong on
    this split (a late older update would overwrite a newer delete's
    outcome: the snapshot row has no sequence to defend itself with);
    the tombstoned state reproduces the one-shot latest-per-key window
    exactly, which is what the oracle (q46's SQL, unchanged) checks.
    The initial snapshot loads as batch 0 with NULL sequence (loses to
    any real change, survives when a key has none)."""
    import os

    from ..operators.cdc import (
        read_snapshot_state,
        snapshot_apply_incremental,
    )

    work = tempfile.mkdtemp(prefix="ehs_snapstate_")
    e = _t(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-16").cast("timestamp_ntz")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    snapshot = (
        e.where(F.col("ts") < cutoff)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("value").alias("balance"),
            F.col("event_type").alias("last_type"),
            F.lit("I").alias("op"),
            F.lit(None).cast("timestamp_ntz").alias("ts"),
            F.lit(None).cast("long").alias("event_id"),
        )
    )
    changes = e.where(F.col("ts") >= cutoff).select(
        "user_id",
        F.col("value").alias("balance"),
        F.col("event_type").alias("last_type"),
        F.when(F.col("event_type") == "error", "D")
        .when(F.col("event_type") == "signup", "I")
        .otherwise("U")
        .alias("op"),
        "ts",
        "event_id",
    )
    keys, seqs = ["user_id"], ["ts", "event_id"]
    b0 = snapshot.unionByName(
        changes.where(F.pmod("event_id", F.lit(2)) == 0)
    )
    b1 = changes.where(F.pmod("event_id", F.lit(2)) == 1)
    snapshot_apply_incremental(b0, work, 0, keys, seqs)
    snapshot_apply_incremental(b1, work, 1, keys, seqs)
    return read_snapshot_state(spark, work, seqs)


@query(
    "q187_incremental_sketch",
    """
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           count(DISTINCT user_id) AS exact_users,
           true AS sketch_ok
    FROM events GROUP BY 1
    """,
)
def q187_incremental_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSISTED incremental distinct-count state
    (operators/ivm.py::sketch_rollup_incremental) — q48's mergeable
    HLL hierarchy with the sketches actually living on disk between
    batches: events split by event_id parity (an arbitrary,
    non-chronological split — distinct-union is commutative and
    idempotent, so any partitioning converges), each batch's per-day
    sketch partial unions into the stored binary, and the read
    estimates from STATE while the exact count is a full recompute.
    Verifies q48's self-check contract end to end through parquet
    round-trips of the sketch binaries: estimate within 5% of exact,
    row set hash-matching the oracle."""
    from ..operators.ivm import sketch_rollup_incremental

    configure_session(spark)
    work = tempfile.mkdtemp(prefix="ehs_sketchstate_")
    e = _t(spark, sf_dir, "events").select(
        "event_id",
        F.to_date(F.date_trunc("day", "ts")).alias("day"),
        "user_id",
    )
    b0 = e.where(F.pmod("event_id", F.lit(2)) == 0)
    b1 = e.where(F.pmod("event_id", F.lit(2)) == 1)
    sketch_rollup_incremental(b0, work, 0, ["day"], "user_id")
    state = sketch_rollup_incremental(b1, work, 1, ["day"], "user_id")
    est = state.select(
        "day", F.hll_sketch_estimate("sketch").alias("est")
    )
    exact = e.groupBy("day").agg(
        F.count_distinct("user_id").alias("exact_users")
    )
    return est.join(exact, "day").select(
        "day",
        "exact_users",
        (
            F.abs(F.col("est") - F.col("exact_users"))
            / F.col("exact_users")
            <= 0.05
        ).alias("sketch_ok"),
    )


@query(
    "q179_dedup_compaction",
    _DOUBLED_DOCS
    + """
    , fp AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 < 2 THEN 0 ELSE 1 END AS b,
               md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
                   AS fingerprint
        FROM all_docs
    )
    SELECT doc_id, fingerprint,
           first_value(doc_id) OVER (
               PARTITION BY fingerprint ORDER BY b, doc_id
           ) AS survivor_id,
           doc_id = first_value(doc_id) OVER (
               PARTITION BY fingerprint ORDER BY b, doc_id
           ) AS kept
    FROM fp
    """,
)
def q179_dedup_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q176's incremental dedup with state COMPACTION in the loop:
    batch 0 applies, the append directories fold into the store's
    ``base`` (operators/dedup_state.py::compact_dedup_state — the
    maintenance move that keeps an append-only state's directory count
    bounded over thousands of ingest batches), and batch 1 then
    resolves against the COMPACTED layout. Oracle identical to q176:
    compaction is pure physical re-layout (rows keep their batch
    column, so first-seen resolution and replay filtering read the
    base exactly as they read the original appends) — the oracle
    equality is the proof."""
    from ..operators.dedup_state import (
        compact_dedup_state,
        dedup_exact_incremental,
    )

    work = tempfile.mkdtemp(prefix="ehs_compactstate_")
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    doubled = d.unionAll(
        d.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    )
    b0 = doubled.where(F.pmod("doc_id", F.lit(3)) < 2)
    b1 = doubled.where(F.pmod("doc_id", F.lit(3)) >= 2)
    v0 = dedup_exact_incremental(b0, work, 0)
    v0 = v0.localCheckpoint()  # materialize before the appends fold
    compact_dedup_state(spark, work, "exact")
    v1 = dedup_exact_incremental(b1, work, 1)
    return v0.unionByName(v1).select(
        F.col("id").alias("doc_id"), "fingerprint", "survivor_id", "kept"
    )


@query(
    "q188_dedup_bloom_state",
    _DOUBLED_DOCS
    + """
    , fp AS (
        SELECT doc_id, doc_id % 3 AS b,
               md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
                   AS fingerprint
        FROM all_docs
    )
    SELECT doc_id, fingerprint,
           first_value(doc_id) OVER (
               PARTITION BY fingerprint ORDER BY b, doc_id
           ) AS survivor_id,
           doc_id = first_value(doc_id) OVER (
               PARTITION BY fingerprint ORDER BY b, doc_id
           ) AS kept
    FROM fp
    """,
)
def q188_dedup_bloom_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental cross-run exact dedup with a persisted BLOOM FILTER
    in front of the state join (operators/dedup_state.py::
    dedup_exact_incremental_bloom) — the scan-side pruning upgrade of
    q176 for the dominant production regime where almost every new
    document is new: fingerprints failing any of k seeded-xxhash64 bit
    probes against the m-bit bitmap are DEFINITELY unseen (bloom's
    no-false-negatives guarantee) and skip the state join entirely;
    only true duplicates plus the small false-positive sliver reach
    the exact join, as a broadcast semi-join filter on the state scan
    — the accumulated state is never shuffled. The bitmap itself is
    versioned parquet of non-zero 64-bit words (~MBs per 10^9 keys at
    1% FP), OR-merged per batch, replay-idempotent. Three sequential
    bloom applies over the doubled-documents corpus split on doc_id%3;
    the oracle is the full-corpus first-seen recompute — verdicts are
    bloom-INDEPENDENT (false positives match nothing in the exact
    join), so incremental-with-bloom must equal the one-shot window
    computation bit-for-bit."""
    from ..operators.dedup_state import dedup_exact_incremental_bloom

    work = tempfile.mkdtemp(prefix="ehs_bloomstate_")
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    doubled = d.unionAll(
        d.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    )
    verdicts = [
        dedup_exact_incremental_bloom(
            doubled.where(F.pmod("doc_id", F.lit(3)) == i), work, i
        )
        for i in range(3)
    ]
    out = verdicts[0]
    for v in verdicts[1:]:
        out = out.unionByName(v)
    return out.select(
        F.col("id").alias("doc_id"), "fingerprint", "survivor_id", "kept"
    )


@query(
    "q189_heavy_hitters",
    """
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ), t AS (
        SELECT token FROM toks WHERE token <> ''
    ), tot AS (
        SELECT count(*) AS n FROM t
    )
    SELECT token AS item, count(*) AS cnt
    FROM t, tot
    GROUP BY token, n
    HAVING count(*) >= ceil(0.01 * n)
    """,
)
def q189_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT frequent items via the two-pass Misra-Gries pattern
    (functions/util.py::heavy_hitters) — the frequent-items member of
    the mergeable-sketch family (HLL q79, Theta q110, KLL q111), made
    exact by the classic candidate-then-recount construction: pass 1
    summarizes each partition with a capacity-bounded MG counter (the
    corpus never shuffles — the shuffle carries <= capacity rows per
    partition), whose union provably supersets every item above
    n/(capacity+1); pass 2 exact-counts ONLY the candidates behind a
    broadcast semi-join at the scan. Items at >= 1%% of all tokens,
    threshold derived from the data on both engines. The guarantee is
    enforced, not assumed: a threshold the capacity can't certify
    raises instead of returning approximate counts."""
    from ..functions.util import ensure_parallelism, heavy_hitters

    d = _t(spark, sf_dir, "documents")
    toks = ensure_parallelism(
        d.select(F.explode(F.split("text", " ")).alias("token"))
    ).where(F.col("token") != "")
    return heavy_hitters(toks, "token", min_frac=0.01, capacity=512)


@query(
    "q190_weighted_sample",
    """
    WITH k AS (
        SELECT doc_id, n_chars,
               pow((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),
                                 1, 8)) AS BIGINT) + 1) / 4294967296.0,
                   1.0 / n_chars) AS es_key
        FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
    )
    SELECT doc_id, n_chars FROM k
    ORDER BY es_key DESC, doc_id ASC LIMIT 25
    """,
)
def q190_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weight-proportional sampling WITHOUT replacement
    (functions/util.py::weighted_sample — the Efraimidis-Spirakis
    exponential race): u ~ content-hash uniform in (0,1], score
    u^(1/weight), top-n win. The md5-derived u makes the draw
    reproducible across engines, runs, and partitionings (q67's
    determinism discipline applied to WEIGHTED sampling — the mixture
    sampler a training-data pipeline uses to upweight rare, long, or
    high-quality documents). Distributed shape: a global top-n on the
    score, which Spark executes as per-partition top-n + driver merge
    (TakeOrderedAndProject) — no full sort, no shuffle of losers.
    25 docs sampled proportional to n_chars; the oracle replays the
    identical race in SQL."""
    from ..functions.util import weighted_sample

    d = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return weighted_sample(d, "n_chars", 25, "doc_id")


@query(
    "q191_pq_train",
    '''
    WITH dims AS (SELECT unnest(range(1, 17)) AS pos),
    subs AS (SELECT unnest(range(0, 4)) AS sub),
    c0 AS (
        SELECT s.sub,
               row_number() OVER (PARTITION BY s.sub ORDER BY e.vec_id)
                   - 1 AS code,
               list_transform(
                   e.embedding[s.sub*16+1 : s.sub*16+16]::DOUBLE[],
                   x -> CAST(round(CAST(x AS DECIMAL(30,10)), 6) AS DOUBLE)
               ) AS centroid
        FROM embeddings e, subs s WHERE e.vec_id < 8
    ), a1 AS (
        SELECT vec_id, sub, code FROM (
            SELECT e.vec_id, c.sub, c.code,
                   row_number() OVER (
                       PARTITION BY e.vec_id, c.sub
                       ORDER BY list_cosine_similarity(
                           e.embedding[c.sub*16+1 : c.sub*16+16]::DOUBLE[],
                           c.centroid) DESC, c.code ASC
                   ) AS rn
            FROM embeddings e, c0 c
        ) WHERE rn = 1
    ), c1 AS (
        SELECT sub, code, list(rv ORDER BY pos) AS centroid FROM (
            SELECT a.sub, a.code, d.pos,
                   CAST(round(CAST(avg(e.embedding[a.sub*16 + d.pos])
                        AS DECIMAL(30,10)), 6) AS DOUBLE) AS rv
            FROM a1 a JOIN embeddings e USING (vec_id), dims d
            GROUP BY a.sub, a.code, d.pos
        ) GROUP BY sub, code
    )

    SELECT sub, code, centroid FROM c1
    ''',
)
def q191_pq_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codebook training (functions/pq.py::
    pq_train) — spherical k-means per SUBSPACE (m=4 subspaces of 16
    dims, k=8 codes, 2 Lloyd rounds from the deterministic lowest-id
    seeds), every subspace trained in ONE corpus scan per round: the
    per-subspace assignment is m independent literal-centroid codegen
    folds inside a single projection (zero shuffle, zero expansion —
    clustering.py's discipline multiplied across subspaces), and the
    recompute is one combinable (sub, code, pos) aggregate for all
    subspaces at once. Centroid components round through
    DECIMAL(30,10) to 6dp per round, so the oracle — the identical
    iterations unrolled in SQL per subspace — reproduces every
    centroid BIT-FOR-BIT: iterative compression training made
    hash-verifiable."""
    from ..functions.pq import pq_codebook_df

    books = _pq_books_cached(spark, sf_dir)
    return pq_codebook_df(spark, books)


@query(
    "q192_pq_adc_topk",
    '''
    WITH dims AS (SELECT unnest(range(1, 17)) AS pos),
    subs AS (SELECT unnest(range(0, 4)) AS sub),
    c0 AS (
        SELECT s.sub,
               row_number() OVER (PARTITION BY s.sub ORDER BY e.vec_id)
                   - 1 AS code,
               list_transform(
                   e.embedding[s.sub*16+1 : s.sub*16+16]::DOUBLE[],
                   x -> CAST(round(CAST(x AS DECIMAL(30,10)), 6) AS DOUBLE)
               ) AS centroid
        FROM embeddings e, subs s WHERE e.vec_id < 8
    ), a1 AS (
        SELECT vec_id, sub, code FROM (
            SELECT e.vec_id, c.sub, c.code,
                   row_number() OVER (
                       PARTITION BY e.vec_id, c.sub
                       ORDER BY list_cosine_similarity(
                           e.embedding[c.sub*16+1 : c.sub*16+16]::DOUBLE[],
                           c.centroid) DESC, c.code ASC
                   ) AS rn
            FROM embeddings e, c0 c
        ) WHERE rn = 1
    ), c1 AS (
        SELECT sub, code, list(rv ORDER BY pos) AS centroid FROM (
            SELECT a.sub, a.code, d.pos,
                   CAST(round(CAST(avg(e.embedding[a.sub*16 + d.pos])
                        AS DECIMAL(30,10)), 6) AS DOUBLE) AS rv
            FROM a1 a JOIN embeddings e USING (vec_id), dims d
            GROUP BY a.sub, a.code, d.pos
        ) GROUP BY sub, code
    )

    , encp AS (
        SELECT vec_id,
               max(CASE WHEN sub = 0 THEN code END) AS k0,
               max(CASE WHEN sub = 1 THEN code END) AS k1,
               max(CASE WHEN sub = 2 THEN code END) AS k2,
               max(CASE WHEN sub = 3 THEN code END) AS k3
        FROM (
            SELECT vec_id, sub, code FROM (
                SELECT e.vec_id, c.sub, c.code,
                       row_number() OVER (
                           PARTITION BY e.vec_id, c.sub
                           ORDER BY list_cosine_similarity(
                               e.embedding[c.sub*16+1 : c.sub*16+16]::DOUBLE[],
                               c.centroid) DESC, c.code ASC
                       ) AS rn
                FROM embeddings e, c1 c
            ) WHERE rn = 1
        ) GROUP BY vec_id
    ), qt AS (
        SELECT q.vec_id AS query_id, c.sub, c.code,
               list_inner_product(
                   q.embedding[c.sub*16+1 : c.sub*16+16]::DOUBLE[],
                   c.centroid) AS ip,
               list_inner_product(c.centroid, c.centroid) AS nn,
               sqrt(list_inner_product(
                   q.embedding::DOUBLE[], q.embedding::DOUBLE[])) AS qnorm
        FROM embeddings q, c1 c WHERE q.vec_id < 3
    ), scored AS (
        SELECT t0.query_id, x.vec_id AS neighbor_id,
               CAST(round(CAST(
                   (t0.ip + t1.ip + t2.ip + t3.ip) /
                   (t0.qnorm * sqrt(t0.nn + t1.nn + t2.nn + t3.nn))
                   AS DECIMAL(30,10)), 4) AS DOUBLE) AS adc_sim
        FROM encp x
        JOIN qt t0 ON t0.sub = 0 AND t0.code = x.k0
        JOIN qt t1 ON t1.sub = 1 AND t1.code = x.k1 AND t1.query_id = t0.query_id
        JOIN qt t2 ON t2.sub = 2 AND t2.code = x.k2 AND t2.query_id = t0.query_id
        JOIN qt t3 ON t3.sub = 3 AND t3.code = x.k3 AND t3.query_id = t0.query_id
    )
    SELECT query_id, neighbor_id, adc_sim FROM (
        SELECT query_id, neighbor_id, adc_sim,
               row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY adc_sim DESC, neighbor_id ASC
               ) AS rn
        FROM scored
    ) WHERE rn <= 5
    ''',
)
def q192_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-k (functions/pq.py::pq_adc_topk):
    the corpus is ENCODED to m one-byte codes per vector (16x
    compression at m=4, dim=64 — the storage tier every 10^10-vector
    deployment needs) and each of 3 queries scores every row with m
    array lookups plus an explicit index-ordered 4-term sum — the
    float payload is touched only at encode time; search reads codes
    alone. Per-query dot/norm tables are literals (queries are the
    bounded side — query_ivf_index's probe-list contract), so scoring
    is pure codegen with no join on the vector column. Ranking is on
    the 4dp-ROUNDED ADC cosine (deterministic cross-engine), ties by
    neighbor id. The oracle unrolls training, encode, and the exact
    table-lookup arithmetic in SQL."""
    from ..functions.pq import pq_adc_topk, pq_encode

    e = _t(spark, sf_dir, "embeddings")
    books = _pq_books_cached(spark, sf_dir)
    enc = pq_encode(e, books)
    return pq_adc_topk(enc, books, e.where("vec_id < 3"), k=5)


@query(
    "q193_ivf_rebalance",
    """
    SELECT vec_id, true AS ok FROM embeddings
    """,
)
def q193_ivf_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF hot-list maintenance (functions/ann_index.py::
    rebalance_ivf_index): lists that outgrew max_list_size (the drift
    the frozen-pivot append path accumulates — see q180) are split
    with shuffle-free spherical k-means into fresh partitions, the
    split pivots replaced by the sub-cluster centroids; COLD lists are
    never read or rewritten (partition pruning limits the scan to the
    hot directories). The oracle pins the invariant a physical rewrite
    must never break — exact membership preservation (every vector
    present exactly once; the hash catches loss AND duplication) —
    and the in-plan ``ok`` asserts the rebalance made progress (the
    maximum list size strictly shrank), computed from the actual
    index layout on disk."""
    from ..functions.ann_index import build_ivf_index, rebalance_ivf_index

    e = _t(spark, sf_dir, "embeddings")
    work = tempfile.mkdtemp(prefix="ehs_ivf_rebalance_")
    path = os.path.join(work, "ivf")
    n, _nlist = build_ivf_index(e, path, nlist=4)
    cap = -(-n // 6)  # ceil(n/6): every initial list (~n/4) is hot
    # per-list sizes from parquet footers driver-side (the build/
    # rebalance writes are complete when each call runs): identical
    # integers to the groupBy-count scan this replaces
    from ..functions.util import parquet_partition_counts

    sizes = lambda: list(  # noqa: E731
        parquet_partition_counts(path, "list_id").values()
    )
    before = max(sizes())
    rebalance_ivf_index(spark, path, max_list_size=cap)
    after = sizes()
    ok = bool(max(after) < before and max(after) <= cap)
    return read_parquet_state(spark, path).select(
        "vec_id", F.lit(ok).alias("ok")
    )


@query(
    "q194_stream_embedding_dedup",
    """
    WITH all_vecs AS (
        SELECT vec_id, embedding FROM embeddings
        UNION ALL
        SELECT vec_id + 10000 AS vec_id, embedding FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cosine
    FROM all_vecs a JOIN all_vecs b ON a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) >= 0.95
    """,
)
def q194_stream_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING embedding near-dup — q183's contract with the
    micro-batch machinery in the loop (the q181 treatment applied to
    the third dedup modality): the doubled-embeddings corpus arrives
    as two mtime-ordered files, each availableNow micro-batch runs
    embedding_lsh_incremental against the accumulated signature state
    inside foreachBatch (operators/dedup_state.py::
    streaming_dedup_embedding), micro-batch id doubles as state batch
    id (replays overwrite their own append AND pair partition). The
    oracle is the EXACT all-pairs truth at cosine >= 0.95 — streamed
    recall verified against ground truth end to end, not against the
    one-shot LSH."""
    import glob as _glob
    import time

    from ..operators.dedup_state import streaming_dedup_embedding

    configure_session(spark)
    work = tempfile.mkdtemp(prefix="ehs_streamemb_")
    feed = os.path.join(work, "feed")
    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    doubled = e.unionAll(
        e.select((F.col("vec_id") + 10000).alias("vec_id"), "embedding")
    )
    doubled.where(F.pmod("vec_id", F.lit(3)) < 2).coalesce(1).write.mode(
        "overwrite"
    ).parquet(feed)
    parts_a = set(_glob.glob(os.path.join(feed, "part-*")))
    doubled.where(F.pmod("vec_id", F.lit(3)) >= 2).coalesce(1).write.mode(
        "append"
    ).parquet(feed)
    parts_b = set(_glob.glob(os.path.join(feed, "part-*"))) - parts_a
    t0 = time.time() - 1000
    for p in parts_a:
        os.utime(p, (t0, t0))
    for p in parts_b:
        os.utime(p, (t0 + 100, t0 + 100))
    stream = (
        spark.readStream.schema(doubled.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    streaming_dedup_embedding(
        stream,
        os.path.join(work, "state"),
        os.path.join(work, "ckpt"),
        os.path.join(work, "out"),
    )
    import glob as _g

    paths = sorted(_g.glob(os.path.join(work, "out", "batch=*")))
    return read_parquet_state(spark, *paths).select("id_a", "id_b", "cosine")


@query(
    "q195_bpe_merges",
    """
    WITH words AS (
        SELECT w AS word, count(*) AS freq FROM (
            SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
            FROM documents WHERE trim(text) <> ''
        ) WHERE w <> '' GROUP BY w
    ), w0 AS (
        SELECT freq, [word[i] FOR i IN range(1, len(word)+1)] AS s
        FROM words
    ), p1 AS (
        SELECT s[i] AS a, s[i+1] AS b, sum(freq) AS cnt
        FROM w0, (SELECT unnest(range(1, 64)) AS i)
        WHERE i < len(s) AND s[i] <> s[i+1] GROUP BY 1, 2
    ), m1 AS (SELECT a, b, cnt FROM p1 ORDER BY cnt DESC, a, b LIMIT 1),
    w1 AS (
        SELECT freq, list(sym ORDER BY pos) AS s FROM (
            SELECT w.wid, w.freq, t.i AS pos,
                   CASE WHEN w.s[t.i] = m.a AND w.s[t.i+1] = m.b
                        THEN w.s[t.i] || w.s[t.i+1] ELSE w.s[t.i] END AS sym,
                   (t.i > 1 AND w.s[t.i-1] = m.a AND w.s[t.i] = m.b)
                       AS dropped
            FROM (SELECT row_number() OVER () AS wid, freq, s FROM w0) w,
                 (SELECT unnest(range(1, 65)) AS i) t, m1 m
            WHERE t.i <= len(w.s)
        ) WHERE NOT dropped GROUP BY wid, freq
    ), p2 AS (
        SELECT s[i] AS a, s[i+1] AS b, sum(freq) AS cnt
        FROM w1, (SELECT unnest(range(1, 64)) AS i)
        WHERE i < len(s) AND s[i] <> s[i+1] GROUP BY 1, 2
    ), m2 AS (SELECT a, b, cnt FROM p2 ORDER BY cnt DESC, a, b LIMIT 1),
    w2 AS (
        SELECT freq, list(sym ORDER BY pos) AS s FROM (
            SELECT w.wid, w.freq, t.i AS pos,
                   CASE WHEN w.s[t.i] = m.a AND w.s[t.i+1] = m.b
                        THEN w.s[t.i] || w.s[t.i+1] ELSE w.s[t.i] END AS sym,
                   (t.i > 1 AND w.s[t.i-1] = m.a AND w.s[t.i] = m.b)
                       AS dropped
            FROM (SELECT row_number() OVER () AS wid, freq, s FROM w1) w,
                 (SELECT unnest(range(1, 65)) AS i) t, m2 m
            WHERE t.i <= len(w.s)
        ) WHERE NOT dropped GROUP BY wid, freq
    ), p3 AS (
        SELECT s[i] AS a, s[i+1] AS b, sum(freq) AS cnt
        FROM w2, (SELECT unnest(range(1, 64)) AS i)
        WHERE i < len(s) AND s[i] <> s[i+1] GROUP BY 1, 2
    ), m3 AS (SELECT a, b, cnt FROM p3 ORDER BY cnt DESC, a, b LIMIT 1)
    SELECT 1 AS step, a AS left, b AS right, CAST(cnt AS BIGINT) AS cnt
    FROM m1
    UNION ALL SELECT 2, a, b, CAST(cnt AS BIGINT) FROM m2
    UNION ALL SELECT 3, a, b, CAST(cnt AS BIGINT) FROM m3
    """,
)
def q195_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge TRAINING, 3 rounds (functions/text.py::bpe_merges) —
    tokenizer induction as a verifiable iterative algorithm (q141's
    unrolled-Lloyd discipline applied to text): per round, adjacent
    symbol pairs count in one combinable aggregate over the
    DISTINCT-WORD table (corpus scale enters only through word
    frequencies — the standard BPE trick), the winning pair (max
    count, ties lexical) broadcasts as a one-row frame, and the merge
    applies as a pure codegen indexed array pass (self-pairs excluded,
    which makes fuses provably non-overlapping, so all-at-once equals
    greedy-leftmost — the unambiguous contract both engines state).
    The oracle unrolls the identical three rounds in SQL. At a 10^7-
    word vocabulary each round is one explode + one shuffle-bounded
    aggregate + one array map — linear."""
    from ..functions.text import bpe_merges

    d = _t(spark, sf_dir, "documents")
    return bpe_merges(d, "text", rounds=3)


@query(
    "q196_negative_sampling",
    """
    WITH ranked AS (
        SELECT q.vec_id AS qid, c.vec_id AS cid,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(
                       q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                       c.vec_id ASC
               ) AS rnk
        FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < 5
    ), race AS (
        SELECT qid, cid,
               row_number() OVER (
                   PARTITION BY qid
                   ORDER BY md5(CAST(qid AS VARCHAR) || '-'
                                || CAST(cid AS VARCHAR)), cid
               ) AS rn
        FROM ranked WHERE rnk > 20
    )
    SELECT qid AS anchor_id, cid AS negative_id FROM race WHERE rn <= 8
    """,
)
def q196_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive NEGATIVE sampling — the training-pair construction
    step of embedding-model pipelines: for each anchor, k negatives
    drawn deterministically from the corpus EXCLUDING the anchor's
    top-m cosine neighbors (near-neighbors are likely unlabeled
    positives — sampling them poisons the loss). Exclusion and draw
    happen in ONE ranked pass: anchors broadcast (the bounded query
    side, q31's shape), every corpus row ranks once per anchor by
    exact cosine, ranks > m enter an md5 hash race (q67/q190's
    cross-engine determinism discipline — reproducible across
    engines, runs, and partitionings), top-k win. Costs one
    |corpus| x |anchors| scored scan + one shuffle for the two
    windows — no anti-join, no second pass. The oracle replays the
    identical rank-then-race in SQL."""
    from ..functions.similarity import cosine_similarity

    e = _t(spark, sf_dir, "embeddings")
    anchors = e.where("vec_id < 5").select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    scored = (
        e.alias("c")
        .crossJoin(F.broadcast(anchors))
        .where(F.col("c.vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("c.vec_id").alias("cid"),
            cosine_similarity(F.col("qv"), F.col("c.embedding")).alias(
                "sim"
            ),
        )
    )
    wr = Window.partitionBy("qid").orderBy(
        F.col("sim").desc(), F.col("cid").asc()
    )
    race_key = F.md5(
        F.concat_ws("-", F.col("qid").cast("string"),
                    F.col("cid").cast("string"))
    )
    wk = Window.partitionBy("qid").orderBy(race_key.asc(), F.col("cid").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(wr))
        .where(F.col("rnk") > 20)
        .withColumn("rn", F.row_number().over(wk))
        .where(F.col("rn") <= 8)
        .select(
            F.col("qid").alias("anchor_id"),
            F.col("cid").alias("negative_id"),
        )
    )


@query(
    "q197_stratified_weighted",
    """
    WITH k AS (
        SELECT doc_id, source, n_chars,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY pow((CAST(concat('0x',
                       substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                       AS BIGINT) + 1) / 4294967296.0,
                       1.0 / n_chars) DESC, doc_id ASC
               ) AS rn
        FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
    )
    SELECT doc_id, source, n_chars FROM k WHERE rn <= 5
    """,
)
def q197_stratified_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum deterministic weighted sampling (functions/util.py::
    stratified_weighted_sample) — the corpus-MIXTURE primitive: each
    source draws its own without-replacement weighted top-5
    (Efraimidis-Spirakis race under a PARTITION BY window), e.g.
    "5 best-length-weighted docs per source" for a balanced training
    mix. One windowed pass — per-stratum top-n, losers never leave
    their partition's sort; determinism contract identical to q190.
    The oracle replays the per-stratum race in SQL."""
    from ..functions.util import stratified_weighted_sample

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return stratified_weighted_sample(d, "source", "n_chars", 5, "doc_id")


@query(
    "q198_pq_append",
    """
    WITH dims AS (SELECT unnest(range(1, 17)) AS pos),
    subs AS (SELECT unnest(range(0, 4)) AS sub),
    base AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 3 < 2),
    c0 AS (
        SELECT s.sub,
               row_number() OVER (PARTITION BY s.sub ORDER BY e.vec_id)
                   - 1 AS code,
               list_transform(
                   e.embedding[s.sub*16+1 : s.sub*16+16]::DOUBLE[],
                   x -> CAST(round(CAST(x AS DECIMAL(30,10)), 6) AS DOUBLE)
               ) AS centroid
        FROM (SELECT * FROM base ORDER BY vec_id LIMIT 8) e, subs s
    ), a1 AS (
        SELECT vec_id, sub, code FROM (
            SELECT e.vec_id, c.sub, c.code,
                   row_number() OVER (
                       PARTITION BY e.vec_id, c.sub
                       ORDER BY list_cosine_similarity(
                           e.embedding[c.sub*16+1 : c.sub*16+16]::DOUBLE[],
                           c.centroid) DESC, c.code ASC
                   ) AS rn
            FROM base e, c0 c
        ) WHERE rn = 1
    ), c1 AS (
        SELECT sub, code, list(rv ORDER BY pos) AS centroid FROM (
            SELECT a.sub, a.code, d.pos,
                   CAST(round(CAST(avg(e.embedding[a.sub*16 + d.pos])
                        AS DECIMAL(30,10)), 6) AS DOUBLE) AS rv
            FROM a1 a JOIN base e USING (vec_id), dims d
            GROUP BY a.sub, a.code, d.pos
        ) GROUP BY sub, code
    )
    SELECT vec_id,
           max(CASE WHEN sub = 0 THEN code END) AS k0,
           max(CASE WHEN sub = 1 THEN code END) AS k1,
           max(CASE WHEN sub = 2 THEN code END) AS k2,
           max(CASE WHEN sub = 3 THEN code END) AS k3
    FROM (
        SELECT vec_id, sub, code FROM (
            SELECT e.vec_id, c.sub, c.code,
                   row_number() OVER (
                       PARTITION BY e.vec_id, c.sub
                       ORDER BY list_cosine_similarity(
                           e.embedding[c.sub*16+1 : c.sub*16+16]::DOUBLE[],
                           c.centroid) DESC, c.code ASC
                   ) AS rn
            FROM embeddings e, c1 c
        ) WHERE rn = 1
    ) GROUP BY vec_id
    """,
)
def q198_pq_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ index APPEND (functions/pq.py::build_pq_index /
    append_pq_codes) — the ingest path of a deployed compression tier
    (q180's frozen-pivot contract applied to codebooks): codebooks
    train on batch 1 only (vec_id%3<2) and persist beside the codes;
    batch 2 encodes against the FROZEN codebooks and appends — one
    linear scan + an O(batch) write of m-byte codes, zero shuffle,
    and the result is content-identical to encoding the union with
    the same codebooks, which is exactly what the oracle restates
    from scratch (train on batch 1, encode everything). Returns every
    vector's 4 codes read back from the persisted index."""
    from ..functions.pq import (
        append_pq_codes,
        build_pq_index,
        read_pq_codes,
    )

    e = _t(spark, sf_dir, "embeddings")
    work = tempfile.mkdtemp(prefix="ehs_pq_idx_")
    b0 = e.where(F.pmod("vec_id", F.lit(3)) < 2)
    b1 = e.where(F.pmod("vec_id", F.lit(3)) >= 2)
    build_pq_index(b0, work, m_sub=4, k_codes=8, iterations=2)
    append_pq_codes(b1, work)
    codes = read_pq_codes(spark, work)
    return codes.select(
        F.col("id").alias("vec_id"),
        F.col("codes")[0].alias("k0"),
        F.col("codes")[1].alias("k1"),
        F.col("codes")[2].alias("k2"),
        F.col("codes")[3].alias("k3"),
    )


@query(
    "q199_sample_incremental",
    """
    WITH k AS (
        SELECT doc_id, source, n_chars,
               row_number() OVER (
                   ORDER BY pow((CAST(concat('0x',
                       substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                       AS BIGINT) + 1) / 4294967296.0,
                       1.0 / n_chars) DESC, doc_id ASC
               ) AS rn
        FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
    )
    SELECT doc_id, source, n_chars FROM k WHERE rn <= 25
    """,
)
def q199_sample_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL weighted sampling against persisted state
    (operators/sample_state.py::weighted_sample_incremental) — the
    reservoir problem over an unbounded batch sequence: because an
    Efraimidis-Spirakis race key depends only on the row, top-n is
    mergeable (top-n(A ∪ B) = top-n(top-n(A) ∪ top-n(B))), so the
    state is just the current n winners with their keys and each
    apply costs O(batch + n). Three sequential applies over the
    doc_id%3 split must produce the IDENTICAL sample to the one-shot
    race over the full corpus — which is exactly what the oracle
    states. Versioned replay-idempotent state (v<batch>)."""
    from ..operators.sample_state import weighted_sample_incremental

    work = tempfile.mkdtemp(prefix="ehs_samplestate_")
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    out = None
    for i in range(3):
        out = weighted_sample_incremental(
            d.where(F.pmod("doc_id", F.lit(3)) == i),
            work, i, "n_chars", 25, "doc_id",
        )
    return out


@query(
    "q200_hh_incremental",
    """
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ), t AS (
        SELECT token FROM toks WHERE token <> ''
    ), tot AS (
        SELECT count(*) AS n FROM t
    )
    SELECT token AS item, count(*) AS cnt
    FROM t, tot
    GROUP BY token, n
    HAVING count(*) >= ceil(0.01 * n)
    """,
)
def q200_hh_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL frequent-items state (operators/frequency_state.py
    ::heavy_hitters_incremental) — the Misra-Gries sketch maintained
    across batches: each apply folds one batch's per-partition MG
    summaries (the corpus never shuffles) into a capacity-bounded
    versioned state with an additive, certified error budget —
    undercount ≤ N/(capacity+1), no item above that slack ever
    missing. Three sequential applies over the doc_id%3 token split;
    at this capacity the sketch never evicts, so the state counts are
    EXACT and the ≥1%%-of-tokens filter must reproduce q189's one-shot
    answer — the oracle states exactly that. The approximate regime
    (real evictions) is property-tested with planted skew in
    tests/test_frequency_state.py; this gate pins the state/merge/
    replay plumbing bit-for-bit."""
    import math

    from ..operators.frequency_state import heavy_hitters_incremental

    work = tempfile.mkdtemp(prefix="ehs_freqstate_")
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    ).where(F.col("token") != "")
    state = None
    for i in range(3):
        state = heavy_hitters_incremental(
            toks.where(F.pmod("doc_id", F.lit(3)) == i).select("token"),
            work, i, "token", capacity=4096,
        )
    n_total = state.where(F.col("item").isNull()).first()["cnt"]
    thr = int(math.ceil(0.01 * n_total))
    return state.where(
        F.col("item").isNotNull() & (F.col("cnt") >= thr)
    ).select("item", "cnt")


@query(
    "q201_psi_drift",
    """
    WITH a AS (
        SELECT o_totalprice AS x FROM orders
        WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
          AND o_totalprice IS NOT NULL
    ), b AS (
        SELECT o_totalprice AS x FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND o_totalprice IS NOT NULL
    ), ref AS (SELECT min(x) AS lo, max(x) AS hi FROM a),
    bins AS (SELECT unnest(range(0, 20)) AS bin),
    ca AS (
        SELECT least(CAST(19 AS BIGINT), greatest(CAST(0 AS BIGINT),
                 CAST(floor(((x - lo) * CAST(20 AS DOUBLE)) / (hi - lo)) AS BIGINT)))
               AS bin, count(*) AS cnt
        FROM a, ref GROUP BY 1
    ), cb AS (
        SELECT least(CAST(19 AS BIGINT), greatest(CAST(0 AS BIGINT),
                 CAST(floor(((x - lo) * CAST(20 AS DOUBLE)) / (hi - lo)) AS BIGINT)))
               AS bin, count(*) AS cnt
        FROM b, ref GROUP BY 1
    ), h AS (
        SELECT bins.bin AS bin, coalesce(ca.cnt, 0) AS cnt_a,
               coalesce(cb.cnt, 0) AS cnt_b
        FROM bins LEFT JOIN ca USING (bin) LEFT JOIN cb USING (bin)
    ), tot AS (
        SELECT sum(cnt_a) AS na, sum(cnt_b) AS nb, count(*) AS nbins FROM h
    ), c AS (
        SELECT bin, cnt_a, cnt_b,
               CAST(round(CAST(
                   (((cnt_a + CAST(0.5 AS DOUBLE)) / (na + nbins * CAST(0.5 AS DOUBLE)))
                    - ((cnt_b + CAST(0.5 AS DOUBLE)) / (nb + nbins * CAST(0.5 AS DOUBLE))))
                   * ln(((cnt_a + CAST(0.5 AS DOUBLE)) / (na + nbins * CAST(0.5 AS DOUBLE)))
                        / ((cnt_b + CAST(0.5 AS DOUBLE)) / (nb + nbins * CAST(0.5 AS DOUBLE))))
               AS DECIMAL(30,10)), 6) AS DOUBLE) AS psi_bin
        FROM h, tot
    )
    SELECT bin, cnt_a, cnt_b, psi_bin,
           CAST(round(sum(CAST(psi_bin AS DECIMAL(30,10))) OVER (), 6) AS DOUBLE)
               AS psi_total
    FROM c
    """,
)
def q201_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between two corpus vintages
    (functions/drift.py::histogram_counts + psi_report): early orders
    are the reference population, late orders the candidate; 20
    equal-width bins FROZEN from the reference min/max (clamped, so
    price drift outside the reference range lands in the edge bins
    instead of vanishing). Two linear scans with map-side combine,
    O(bins) everything after; per-bin terms rounded then summed as
    exact decimals so the total ignores summation order. The oracle
    re-derives every bin count and contribution in SQL."""
    from ..functions.drift import histogram_counts, psi_report

    o = _t(spark, sf_dir, "orders").where(F.col("o_totalprice").isNotNull())
    split = F.lit("1997-01-01 00:00:00").cast("timestamp_ntz")
    a = o.where(F.col("o_orderdate") < split)
    b = o.where(F.col("o_orderdate") >= split)
    ref = a.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    ).first()
    ha = histogram_counts(a, "o_totalprice", ref["lo"], ref["hi"], 20)
    hb = histogram_counts(b, "o_totalprice", ref["lo"], ref["hi"], 20)
    return psi_report(ha, hb)


@query(
    "q202_ks_drift",
    """
    WITH a AS (
        SELECT l_extendedprice AS x FROM lineitem
        WHERE l_returnflag = 'R' AND l_extendedprice IS NOT NULL
    ), b AS (
        SELECT l_extendedprice AS x FROM lineitem
        WHERE l_returnflag = 'N' AND l_extendedprice IS NOT NULL
    ), u AS (
        SELECT x, CAST(1 AS BIGINT) AS ca, CAST(0 AS BIGINT) AS cb FROM a
        UNION ALL
        SELECT x, CAST(0 AS BIGINT) AS ca, CAST(1 AS BIGINT) AS cb FROM b
    ), pv AS (
        SELECT x, sum(ca) AS ca, sum(cb) AS cb FROM u GROUP BY x
    ), tot AS (
        SELECT CAST(sum(ca) AS BIGINT) AS n_a, CAST(sum(cb) AS BIGINT) AS n_b,
               count(*) AS n_values FROM pv
    ), cum AS (
        SELECT sum(ca) OVER (ORDER BY x) AS cum_a,
               sum(cb) OVER (ORDER BY x) AS cum_b
        FROM pv
    )
    SELECT
        CAST(round(CAST(max(abs(cum_a / CAST(n_a AS DOUBLE)
                              - cum_b / CAST(n_b AS DOUBLE))) AS DECIMAL(30,10)), 6)
             AS DOUBLE) AS ks_d,
        min(n_a) AS n_a, min(n_b) AS n_b, min(n_values) AS n_values
    FROM cum, tot
    """,
)
def q202_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT two-sample Kolmogorov-Smirnov distance between returned
    and delivered line-item prices (functions/drift.py::ks_2samp) —
    the distributed two-phase prefix-sum, not a single-partition
    window: per-distinct-value counts (the only value shuffle),
    range-repartition + in-partition sort, O(partitions) totals to
    the driver, offsets broadcast back, per-partition maxima in one
    Arrow pass. Cumulative counts are exact int64; the only floats
    are the final divisions — identical IEEE ops on both engines, so
    the oracle (which can afford the naive ordered window at sf0.01)
    pins the sup-norm bit-for-bit."""
    from ..functions.drift import ks_2samp

    li = _t(spark, sf_dir, "lineitem")
    a = li.where(F.col("l_returnflag") == "R").select("l_extendedprice")
    b = li.where(F.col("l_returnflag") == "N").select("l_extendedprice")
    return ks_2samp(a, b, "l_extendedprice")


@query(
    "q203_drift_state",
    """
    WITH b0 AS (
        SELECT value AS x FROM events
        WHERE event_id % 3 = 0 AND value IS NOT NULL
    ), ref AS (SELECT min(x) AS lo, max(x) AS hi FROM b0),
    allv AS (SELECT value AS x FROM events WHERE value IS NOT NULL),
    bins AS (SELECT unnest(range(0, 16)) AS bin),
    c AS (
        SELECT least(CAST(15 AS BIGINT), greatest(CAST(0 AS BIGINT),
                 CAST(floor(((x - lo) * CAST(16 AS DOUBLE)) / (hi - lo)) AS BIGINT)))
               AS bin, count(*) AS cnt
        FROM allv, ref GROUP BY 1
    )
    SELECT bins.bin AS bin, coalesce(c.cnt, 0) AS cnt
    FROM bins LEFT JOIN c USING (bin)
    """,
)
def q203_drift_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL histogram state (operators/drift_state.py): the
    events feed arrives as three batches (event_id mod 3); bin edges
    are frozen from batch 0's min/max (the PSI convention that makes
    counts mergeable); each apply folds one batch's exact histogram
    into the versioned persisted state without re-reading history.
    The oracle is full-corpus recompute equivalence — the state after
    three sequential applies must be bit-identical to the one-shot
    histogram of the union (the q170 retraction-family treatment
    applied to distributions). Replay idempotence and the
    edge-mismatch guard are pytest-covered (tests/test_drift.py)."""
    from ..operators.drift_state import histogram_incremental

    work = tempfile.mkdtemp(prefix="ehs_driftstate_")
    e = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    b0 = e.where(F.pmod("event_id", F.lit(3)) == 0)
    ref = b0.agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    ).first()
    state = None
    for i in range(3):
        state = histogram_incremental(
            e.where(F.pmod("event_id", F.lit(3)) == i),
            work,
            i,
            "value",
            ref["lo"],
            ref["hi"],
            bins=16,
        )
    return state.select("bin", "cnt")


@query(
    "q204_quantile_state",
    """
    SELECT count(*) AS n_values,
           true AS p50_ok, true AS p90_ok, true AS p99_ok
    FROM events WHERE value IS NOT NULL
    """,
)
def q204_quantile_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL quantile state (operators/quantile_state.py): the
    events feed arrives as three batches (event_id mod 3); each apply
    folds one batch's KLL sketch into the persisted one-row state —
    bounded-size, mergeable, with a proven ~1.65% rank-error bound at
    k=200 — so the accumulated stream's percentiles stay answerable
    in O(sketch) without ever re-reading history (q111's rollup
    pattern turned into cross-run state). Self-verifying like q111:
    the empirical CDF rank of each state-derived estimate over the
    FULL corpus (one scan, no sort) must sit within 3% of its target;
    the emitted row hash-matches the oracle. Replay idempotence and
    the k-mismatch guard are pytest-covered (tests/test_drift.py)."""
    from ..operators.quantile_state import (
        quantile_sketch_incremental,
        quantiles_from_state,
    )

    work = tempfile.mkdtemp(prefix="ehs_kllstate_")
    e = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    for i in range(3):
        quantile_sketch_incremental(
            e.where(F.pmod("event_id", F.lit(3)) == i).select("value"),
            work,
            i,
            "value",
        )
    est = {
        r["p"]: r["q"]
        for r in quantiles_from_state(
            spark, work, 3, [0.5, 0.9, 0.99]
        ).collect()
    }

    def rank_ok(p: float):
        emp = F.avg((F.col("value") <= F.lit(est[p])).cast("double"))
        return F.abs(emp - F.lit(p)) <= F.lit(0.03)

    return e.agg(
        F.count(F.lit(1)).alias("n_values"),
        rank_ok(0.5).alias("p50_ok"),
        rank_ok(0.9).alias("p90_ok"),
        rank_ok(0.99).alias("p99_ok"),
    )


@query(
    "q205_training_shards",
    """
    WITH r AS (
        SELECT doc_id, md5(concat('42|', CAST(doc_id AS VARCHAR))) AS h
        FROM documents
    ), o AS (
        SELECT doc_id, row_number() OVER (ORDER BY h, doc_id) - 1 AS rank
        FROM r
    )
    SELECT doc_id, rank // 256 AS shard, rank % 256 AS pos FROM o
    """,
)
def q205_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle + fixed-size shard export
    (operators/export.py::write_training_shards): the corpus is
    permuted by md5(seed || doc_id) — reproducible across runs,
    engines, and cluster sizes, unlike rand() — and written as
    ``shard=<k>/`` parquet dirs, every shard exactly 256 rows except
    the last, ``pos`` the intra-shard replay order. The global rank
    is the two-phase distributed prefix sum (range partition → per
    partition counts → broadcast offsets), NEVER a single-partition
    window; the oracle affords the naive row_number at sf0.01 and
    pins the whole layout — shard assignment AND intra-shard
    position — bit-for-bit."""
    from ..operators.export import write_training_shards

    work = tempfile.mkdtemp(prefix="ehs_shards_")
    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    write_training_shards(d, work, ["doc_id"], 256, seed=42)
    return read_parquet_state(spark, os.path.join(work, "shards")).select(
        "doc_id", F.col("shard").cast("long").alias("shard"), "pos"
    )


@query(
    "q206_psi_vs_state",
    """
    WITH b0 AS (
        SELECT value AS x FROM events
        WHERE event_id % 3 = 0 AND value IS NOT NULL
    ), ref AS (SELECT min(x) AS lo, max(x) AS hi FROM b0),
    st AS (
        SELECT value AS x FROM events
        WHERE event_id % 3 < 2 AND value IS NOT NULL
    ), nb AS (
        SELECT value AS x FROM events
        WHERE event_id % 3 = 2 AND value IS NOT NULL
    ), bins AS (SELECT unnest(range(0, 16)) AS bin),
    ca AS (
        SELECT least(CAST(15 AS BIGINT), greatest(CAST(0 AS BIGINT),
                 CAST(floor(((x - lo) * CAST(16 AS DOUBLE)) / (hi - lo)) AS BIGINT)))
               AS bin, count(*) AS cnt
        FROM st, ref GROUP BY 1
    ), cb AS (
        SELECT least(CAST(15 AS BIGINT), greatest(CAST(0 AS BIGINT),
                 CAST(floor(((x - lo) * CAST(16 AS DOUBLE)) / (hi - lo)) AS BIGINT)))
               AS bin, count(*) AS cnt
        FROM nb, ref GROUP BY 1
    ), h AS (
        SELECT bins.bin AS bin, coalesce(ca.cnt, 0) AS cnt_a,
               coalesce(cb.cnt, 0) AS cnt_b
        FROM bins LEFT JOIN ca USING (bin) LEFT JOIN cb USING (bin)
    ), tot AS (
        SELECT sum(cnt_a) AS na, sum(cnt_b) AS nb, count(*) AS nbins FROM h
    ), c AS (
        SELECT bin, cnt_a, cnt_b,
               CAST(round(CAST(
                   (((cnt_a + CAST(0.5 AS DOUBLE)) / (na + nbins * CAST(0.5 AS DOUBLE)))
                    - ((cnt_b + CAST(0.5 AS DOUBLE)) / (nb + nbins * CAST(0.5 AS DOUBLE))))
                   * ln(((cnt_a + CAST(0.5 AS DOUBLE)) / (na + nbins * CAST(0.5 AS DOUBLE)))
                        / ((cnt_b + CAST(0.5 AS DOUBLE)) / (nb + nbins * CAST(0.5 AS DOUBLE))))
               AS DECIMAL(30,10)), 6) AS DOUBLE) AS psi_bin
        FROM h, tot
    )
    SELECT bin, cnt_a, cnt_b, psi_bin,
           CAST(round(sum(CAST(psi_bin AS DECIMAL(30,10))) OVER (), 6) AS DOUBLE)
               AS psi_total
    FROM c
    """,
)
def q206_psi_vs_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The drift ADMISSION GATE a pipeline runs before folding a new
    batch into the corpus (operators/drift_state.py::
    psi_against_state): batches 0–1 of the events feed are folded
    into the persisted histogram state (edges frozen from batch 0 —
    q203's apply path), then candidate batch 2 is scored against the
    ACCUMULATED distribution without re-reading history. Bin edges
    travel in the state rows (no side channel). The oracle re-derives
    the state-side histogram from the raw union of batches 0–1 —
    verifying in one shot that the state is faithful AND the PSI
    arithmetic matches, per-bin and in total."""
    from ..operators.drift_state import (
        histogram_incremental,
        psi_against_state,
    )

    work = tempfile.mkdtemp(prefix="ehs_psistate_")
    e = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    b0 = e.where(F.pmod("event_id", F.lit(3)) == 0)
    ref = b0.agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    ).first()
    for i in range(2):
        histogram_incremental(
            e.where(F.pmod("event_id", F.lit(3)) == i),
            work,
            i,
            "value",
            ref["lo"],
            ref["hi"],
            bins=16,
        )
    return psi_against_state(
        e.where(F.pmod("event_id", F.lit(3)) == 2), work, 2, "value"
    )


@query(
    "q207_grouped_split",
    """
    WITH s AS (
        SELECT user_id,
               CASE WHEN CAST(concat('0x', substr(md5(concat('7|',
                        CAST(user_id AS VARCHAR))), 1, 8)) AS BIGINT) % 100 < 80
                    THEN 'train'
                    WHEN CAST(concat('0x', substr(md5(concat('7|',
                        CAST(user_id AS VARCHAR))), 1, 8)) AS BIGINT) % 100 < 90
                    THEN 'val'
                    ELSE 'test' END AS split
        FROM events
    )
    SELECT split, count(DISTINCT user_id) AS n_groups, count(*) AS n_rows
    FROM s GROUP BY split
    """,
)
def q207_grouped_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free train/val/test split (operators/export.py::
    grouped_split): assignment is a pure function of the GROUP key
    (md5(seed || user_id) mod 100 vs cumulative 80/10/10 boundaries),
    so every event of a user lands in one split BY CONSTRUCTION —
    the group-level guarantee row-level rand() splits silently break
    when near-duplicates share a user/domain/cluster. Content-hashed
    (the q67 primitive): reproducible across engines and
    partitionings, one projection, no shuffle, no state. The no-group
    -spans-splits property is structurally guaranteed and
    pytest-asserted; the oracle pins the exact assignment."""
    from ..operators.export import grouped_split

    e = _t(spark, sf_dir, "events")
    return (
        grouped_split(e, "user_id", seed=7)
        .groupBy("split")
        .agg(
            F.count_distinct("user_id").alias("n_groups"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@query(
    "q208_token_budget_mix",
    """
    WITH tok AS (
        SELECT doc_id, source,
               len(regexp_split_to_array(trim(text), '\\s+')) AS n_tok,
               md5(concat('mix7:', CAST(doc_id AS VARCHAR))) AS pri
        FROM documents
    ), b AS (
        SELECT source,
               CAST(floor(sum(n_tok) * 0.5) AS BIGINT) AS budget_tokens
        FROM tok GROUP BY source
    ), r AS (
        SELECT t.source, t.n_tok, b.budget_tokens,
               sum(t.n_tok) OVER (PARTITION BY t.source
                                  ORDER BY t.pri, t.doc_id
                                  ROWS UNBOUNDED PRECEDING) - t.n_tok
                   AS cum_before
        FROM tok t JOIN b ON t.source = b.source
    )
    SELECT source, budget_tokens,
           count(*) AS n_docs,
           count(*) FILTER (WHERE cum_before < budget_tokens)
               AS n_selected,
           CAST(sum(n_tok) FILTER (WHERE cum_before < budget_tokens)
               AS BIGINT) AS selected_tokens,
           CAST(round(CAST(sum(n_tok) FILTER (WHERE cum_before
                    < budget_tokens) / CAST(budget_tokens AS DOUBLE)
                AS DECIMAL(30,10)), 4) AS DOUBLE) AS fill_ratio
    FROM r GROUP BY source, budget_tokens
    """,
)
def q208_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget MIXTURE construction — the step that turns a
    cleaned corpus into a training mix ("give me 50% of each source's
    tokens"): docs race in a deterministic md5 priority order (the
    q67 content-hash primitive, so the 'shuffle' is reproducible
    across engines/runs/partitionings) and each source greedily
    admits docs until its token budget fills; the doc that crosses
    the boundary is admitted, so progress is guaranteed even when a
    single doc exceeds the remaining budget. Budgets derive FROM THE
    DATA (50% of each source's total tokens — the q152 derived-k
    discipline, no magic constants).

    Distributed shape: one scan computes (n_tok, priority) in pure
    codegen; per-source totals are a map-side-combinable aggregate
    broadcast back (sources ≪ docs); the only ordered state is a
    per-source running sum — a single window sort partitioned by
    source. At 100 TB with a skewed source, swap the window for
    export.py::deterministic_shuffle_rank's two-phase global rank +
    per-partition prefix sums over the same priority key; semantics
    (and this oracle) are unchanged because the order key is
    content-derived, not physical."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        "source",
        F.size(F.split(F.trim("text"), r"\s+")).alias("n_tok"),
        F.md5(
            F.concat(F.lit("mix7:"), F.col("doc_id").cast("string"))
        ).alias("pri"),
    )
    budgets = tok.groupBy("source").agg(
        F.floor(F.sum("n_tok") * 0.5).cast("long").alias("budget_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("pri", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    r = (
        tok.join(F.broadcast(budgets), "source")
        .withColumn("cum_before", F.sum("n_tok").over(w) - F.col("n_tok"))
    )
    sel = F.col("cum_before") < F.col("budget_tokens")
    return r.groupBy("source", "budget_tokens").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(sel, 1)).alias("n_selected"),
        F.sum(F.when(sel, F.col("n_tok"))).alias("selected_tokens"),
        _sround(
            F.sum(F.when(sel, F.col("n_tok")))
            / F.col("budget_tokens").cast("double"),
            4,
        ).alias("fill_ratio"),
    )


@query(
    "q209_bigram_cross_entropy",
    """
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
        FROM documents
    ), ok AS (
        SELECT doc_id, t FROM toks WHERE len(t) >= 2
    ), big AS (
        SELECT doc_id, t[i] AS w1, t[i+1] AS w2
        FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM ok)
    ), refbig AS (
        SELECT w1, w2, count(*) AS cb FROM big
        WHERE doc_id % 3 = 0 GROUP BY w1, w2
    ), refuni AS (
        SELECT w1, count(*) AS cu FROM big
        WHERE doc_id % 3 = 0 GROUP BY w1
    ), v AS (
        SELECT count(DISTINCT tok) AS vsize
        FROM (SELECT unnest(t) AS tok FROM ok WHERE doc_id % 3 = 0)
    ), scored AS (
        SELECT b.doc_id,
               -log2(CAST(coalesce(rb.cb, 0) + 1 AS DOUBLE)
                     / (coalesce(ru.cu, 0) + v.vsize)) AS s
        FROM big b
        LEFT JOIN refbig rb ON b.w1 = rb.w1 AND b.w2 = rb.w2
        LEFT JOIN refuni ru ON b.w1 = ru.w1
        CROSS JOIN v
    )
    SELECT doc_id, count(*) AS n_bigrams,
           CAST(round(CAST(avg(s) AS DECIMAL(30,10)), 4) AS DOUBLE)
               AS cross_entropy
    FROM scored GROUP BY doc_id
    """,
)
def q209_bigram_cross_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram CROSS-ENTROPY quality scoring — the CCNet/perplexity
    filter with the LM trained in-engine: a bigram model with add-one
    smoothing is fit on a reference slice (docs with doc_id%3==0,
    standing in for the curated 'Wikipedia side' of the filter) and
    every document is scored by its mean per-bigram cross-entropy
    under that model; high-entropy docs are the gibberish/boilerplate
    tail a web pipeline drops. Extends functions/text.py::
    unigram_surprisal to conditional probabilities.

    Distributed shape: bigrams come from a codegen'd transform/slice
    projection (q44's gram construction — no self-join on position);
    model counts are two map-side-combinable aggregates; scoring is
    two shuffle hash joins keyed on token text (the vocabulary is
    corpus-scale, so deliberately NOT broadcast) plus a 1-row
    broadcast vocab size. Everything is linear in corpus size and no
    vocabulary ever sits on the driver."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.split(F.trim(F.lower("text")), r"\s+").alias("t"),
    ).where(F.size("t") >= 2)
    big = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 1),
                lambda i: F.slice("t", i, 2),
            )
        ).alias("bg"),
    ).select(
        "doc_id",
        F.element_at("bg", 1).alias("w1"),
        F.element_at("bg", 2).alias("w2"),
    )
    ref = big.where(F.col("doc_id") % 3 == 0)
    refbig = ref.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    refuni = ref.groupBy("w1").agg(F.count(F.lit(1)).alias("cu"))
    vsize = (
        toks.where(F.col("doc_id") % 3 == 0)
        .select(F.explode("t").alias("tok"))
        .agg(F.count_distinct("tok").alias("vsize"))
    )
    scored = (
        big.join(refbig, ["w1", "w2"], "left")
        .join(refuni, "w1", "left")
        .crossJoin(F.broadcast(vsize))
        .select(
            "doc_id",
            (
                -F.log2(
                    (F.coalesce(F.col("cb"), F.lit(0)) + 1).cast("double")
                    / (F.coalesce(F.col("cu"), F.lit(0)) + F.col("vsize"))
                )
            ).alias("s"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        _sround(F.avg("s"), 4).alias("cross_entropy"),
    )


@query(
    "q210_snapshot_diff",
    """
    WITH fp AS (
        SELECT doc_id, source,
               md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
                   AS fp
        FROM documents
    ), v1 AS (
        SELECT doc_id, source,
               CASE WHEN doc_id % 7 = 2
                    THEN md5(concat(fp, ':v1-old')) ELSE fp END AS fp
        FROM fp WHERE doc_id % 11 <> 3
    ), v2 AS (
        SELECT doc_id, source, fp FROM fp WHERE doc_id % 13 <> 5
    ), d AS (
        SELECT coalesce(v2.source, v1.source) AS source,
               CASE WHEN v1.doc_id IS NULL THEN 'added'
                    WHEN v2.doc_id IS NULL THEN 'removed'
                    WHEN v1.fp <> v2.fp THEN 'changed'
                    ELSE 'unchanged' END AS status
        FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
    )
    SELECT source, status, count(*) AS n_docs
    FROM d GROUP BY source, status
    """,
)
def q210_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus SNAPSHOT DIFF — the audit a pipeline runs between two
    corpus versions before retraining ("what actually changed since
    the last crawl?"): added / removed / changed / unchanged per
    source, with 'changed' decided by the normalized content
    fingerprint (functions/text.py::document_fingerprint), never by
    raw text comparison. Versions are simulated from the one
    documents table (v1 drops doc_id%11==3 and perturbs the
    fingerprint of doc_id%7==2; v2 drops doc_id%13==5), so the oracle
    pins every branch of the classification.

    Distributed shape: both sides project down to (doc_id, source,
    16-byte fingerprint) BEFORE the full outer join — at 100 TB the
    join moves fingerprints, never document bodies, and co-partitions
    on doc_id, the natural bucketing key for repeated diffs. One
    scan per version, one shuffle join, one combinable count
    aggregate."""
    from ..functions.text import document_fingerprint

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", document_fingerprint(F.col("text")).alias("fp")
    )
    v1 = d.where(F.col("doc_id") % 11 != 3).select(
        "doc_id",
        "source",
        F.when(
            F.col("doc_id") % 7 == 2,
            F.md5(F.concat(F.col("fp"), F.lit(":v1-old"))),
        )
        .otherwise(F.col("fp"))
        .alias("fp"),
    )
    v2 = d.where(F.col("doc_id") % 13 != 5)
    joined = v1.alias("a").join(
        v2.alias("b"), F.col("a.doc_id") == F.col("b.doc_id"), "full_outer"
    )
    status = (
        F.when(F.col("a.doc_id").isNull(), F.lit("added"))
        .when(F.col("b.doc_id").isNull(), F.lit("removed"))
        .when(F.col("a.fp") != F.col("b.fp"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        joined.select(
            F.coalesce(F.col("b.source"), F.col("a.source")).alias("source"),
            status.alias("status"),
        )
        .groupBy("source", "status")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@query(
    "q211_chunk_windows",
    """
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
        FROM documents
    ), starts AS (
        SELECT doc_id, t, unnest(range(1, len(t) + 1, 24)) AS s
        FROM toks
    ), chunks AS (
        SELECT doc_id, (s - 1) // 24 AS chunk_id,
               t[s:s+31] AS c
        FROM starts
    )
    SELECT doc_id, chunk_id,
           len(c) AS n_tok,
           md5(array_to_string(c, ' ')) AS chunk_hash
    FROM chunks
    """,
)
def q211_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window token CHUNKING — the context-window export step
    of a pretraining/RAG pipeline: each document splits into windows
    of 32 tokens at stride 24 (8-token overlap so no boundary context
    is lost), each chunk identified by (doc_id, chunk_id) and content
    -hashed for downstream dedup/verification. The final short window
    is kept (curriculum/packing decides its fate later, not the
    chunker).

    Distributed shape: pure per-row codegen — sequence/posexplode/
    slice/md5 in one projection, NO shuffle, NO Python, no state;
    at 100 TB this runs at scan speed with output ~len/stride rows
    per doc, and chunk identity is content-derived so re-runs and
    different partitionings emit identical chunk ids (the export
    contract write_training_shards relies on)."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("t")
    )
    starts = toks.select(
        "doc_id",
        "t",
        F.posexplode(
            F.sequence(F.lit(1), F.size("t"), F.lit(24))
        ).alias("chunk_id", "s"),
    )
    c = F.slice("t", F.col("s"), 32)
    return starts.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.size(c).alias("n_tok"),
        F.md5(F.concat_ws(" ", c)).alias("chunk_hash"),
    )


@query(
    "q212_bpe_encode",
    """
    WITH words AS (
        SELECT w AS word, count(*) AS freq FROM (
            SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
            FROM documents WHERE trim(text) <> ''
        ) WHERE w <> '' GROUP BY w
    ), w0 AS (
        SELECT word, freq, [word[i] FOR i IN range(1, len(word)+1)] AS s
        FROM words
    ), p1 AS (
        SELECT s[i] AS a, s[i+1] AS b, sum(freq) AS cnt
        FROM w0, (SELECT unnest(range(1, 64)) AS i)
        WHERE i < len(s) AND s[i] <> s[i+1] GROUP BY 1, 2
    ), m1 AS (SELECT a, b FROM p1 ORDER BY cnt DESC, a, b LIMIT 1),
    w1 AS (
        SELECT word, freq, list(sym ORDER BY pos) AS s FROM (
            SELECT w.word, w.freq, t.i AS pos,
                   CASE WHEN w.s[t.i] = m.a AND w.s[t.i+1] = m.b
                        THEN w.s[t.i] || w.s[t.i+1] ELSE w.s[t.i] END AS sym,
                   (t.i > 1 AND w.s[t.i-1] = m.a AND w.s[t.i] = m.b)
                       AS dropped
            FROM w0 w, (SELECT unnest(range(1, 65)) AS i) t, m1 m
            WHERE t.i <= len(w.s)
        ) WHERE NOT dropped GROUP BY word, freq
    ), p2 AS (
        SELECT s[i] AS a, s[i+1] AS b, sum(freq) AS cnt
        FROM w1, (SELECT unnest(range(1, 64)) AS i)
        WHERE i < len(s) AND s[i] <> s[i+1] GROUP BY 1, 2
    ), m2 AS (SELECT a, b FROM p2 ORDER BY cnt DESC, a, b LIMIT 1),
    w2 AS (
        SELECT word, freq, list(sym ORDER BY pos) AS s FROM (
            SELECT w.word, w.freq, t.i AS pos,
                   CASE WHEN w.s[t.i] = m.a AND w.s[t.i+1] = m.b
                        THEN w.s[t.i] || w.s[t.i+1] ELSE w.s[t.i] END AS sym,
                   (t.i > 1 AND w.s[t.i-1] = m.a AND w.s[t.i] = m.b)
                       AS dropped
            FROM w1 w, (SELECT unnest(range(1, 65)) AS i) t, m2 m
            WHERE t.i <= len(w.s)
        ) WHERE NOT dropped GROUP BY word, freq
    ), p3 AS (
        SELECT s[i] AS a, s[i+1] AS b, sum(freq) AS cnt
        FROM w2, (SELECT unnest(range(1, 64)) AS i)
        WHERE i < len(s) AND s[i] <> s[i+1] GROUP BY 1, 2
    ), m3 AS (SELECT a, b FROM p3 ORDER BY cnt DESC, a, b LIMIT 1),
    w3 AS (
        SELECT word, freq, list(sym ORDER BY pos) AS s FROM (
            SELECT w.word, w.freq, t.i AS pos,
                   CASE WHEN w.s[t.i] = m.a AND w.s[t.i+1] = m.b
                        THEN w.s[t.i] || w.s[t.i+1] ELSE w.s[t.i] END AS sym,
                   (t.i > 1 AND w.s[t.i-1] = m.a AND w.s[t.i] = m.b)
                       AS dropped
            FROM w2 w, (SELECT unnest(range(1, 65)) AS i) t, m3 m
            WHERE t.i <= len(w.s)
        ) WHERE NOT dropped GROUP BY word, freq
    ), enc AS (SELECT word, len(s) AS n_sub FROM w3),
    dw AS (
        SELECT doc_id, w FROM (
            SELECT doc_id,
                   unnest(regexp_split_to_array(trim(lower(text)), '\\s+'))
                       AS w
            FROM documents WHERE trim(text) <> ''
        ) WHERE w <> ''
    )
    SELECT d.doc_id, count(*) AS n_words,
           CAST(sum(length(d.w)) AS BIGINT) AS n_chars,
           CAST(sum(e.n_sub) AS BIGINT) AS n_bpe_tokens,
           CAST(round(CAST(sum(length(d.w))
                / CAST(sum(e.n_sub) AS DOUBLE)
                AS DECIMAL(30,10)), 4) AS DOUBLE) AS compression
    FROM dw d JOIN enc e ON d.w = e.word
    GROUP BY d.doc_id
    """,
)
def q212_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODING — the tokenizer-APPLICATION half of q195: the
    same 3 merge rules train in-engine, then every document gets its
    token count under the learned subword vocabulary (the number a
    token-budget mixture like q208 actually wants, instead of the
    whitespace proxy). Per doc: word count, character count, BPE
    token count, chars-per-token compression ratio.

    Distributed shape (functions/text.py::bpe_word_encodings):
    encoding happens once per DISTINCT word — the training loop's
    |vocabulary|-row table fuses through all 3 rounds carrying the
    word key, then a word-keyed shuffle join (vocabulary is
    corpus-scale, deliberately NOT broadcast) maps each doc's words
    to subword counts and one combinable aggregate rolls them up.
    Corpus scale enters only through that join — never through the
    iteration. The oracle unrolls the identical 3 train+fuse rounds
    and the same join."""
    from ..functions.text import bpe_word_encodings

    d = _t(spark, sf_dir, "documents")
    enc = bpe_word_encodings(d, "text", rounds=3)
    dw = (
        d.where(F.trim("text") != "")
        .select(
            "doc_id",
            F.explode(
                F.split(F.trim(F.lower("text")), r"\s+")
            ).alias("w"),
        )
        .where(F.col("w") != "")
    )
    return (
        dw.join(enc, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.length("w")).alias("n_chars"),
            F.sum("n_sub").alias("n_bpe_tokens"),
            _sround(
                F.sum(F.length("w")) / F.sum("n_sub").cast("double"), 4
            ).alias("compression"),
        )
    )


@query(
    "q213_gopher_repetition",
    """
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
        FROM documents WHERE trim(text) <> ''
    ), ok AS (SELECT doc_id, t FROM toks WHERE len(t) >= 2),
    base AS (
        SELECT doc_id, len(t) AS n_tok,
               len(list_distinct(t)) AS n_distinct
        FROM ok
    ), bg AS (
        SELECT doc_id, t[i] AS a, t[i+1] AS b, count(*) AS cnt
        FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM ok)
        GROUP BY 1, 2, 3
    ), top AS (
        SELECT doc_id, max(cnt) AS top_cnt FROM bg GROUP BY doc_id
    )
    SELECT b.doc_id, b.n_tok,
           CAST(round(CAST(b.n_distinct / CAST(b.n_tok AS DOUBLE)
                AS DECIMAL(30,10)), 4) AS DOUBLE) AS distinct_ratio,
           CAST(round(CAST(2.0 * t.top_cnt / b.n_tok
                AS DECIMAL(30,10)), 4) AS DOUBLE) AS top_bigram_frac,
           (b.n_distinct / CAST(b.n_tok AS DOUBLE) >= 0.3
            AND 2.0 * t.top_cnt / b.n_tok <= 0.2) AS keep
    FROM base b JOIN top t ON b.doc_id = t.doc_id
    """,
)
def q213_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style REPETITION filtering — the self-repetition half
    of the quality rules (q25 covers length/punctuation/stopwords):
    per document, the distinct-token ratio and the fraction of tokens
    inside the single most frequent bigram, with the keep verdict
    (distinct ratio >= 0.3, top-bigram fraction <= 0.2 — the published
    Gopher thresholds' token-level analogue). Boilerplate and
    looping-generation documents fail exactly these two.

    Distributed shape: the distinct ratio is pure codegen
    (array_distinct on the token array, no shuffle); the top-bigram
    count is two combinable aggregates keyed by (doc_id, bigram) then
    doc_id — both linear, partitioned by doc so no key is ever hot —
    and one doc_id-keyed join stitches them. The verdict compares the
    UNROUNDED ratios; rounding is display-only."""
    d = _t(spark, sf_dir, "documents")
    toks = (
        d.where(F.trim("text") != "")
        .select(
            "doc_id",
            F.split(F.trim(F.lower("text")), r"\s+").alias("t"),
        )
        .where(F.size("t") >= 2)
    )
    base = toks.select(
        "doc_id",
        F.size("t").alias("n_tok"),
        F.size(F.array_distinct("t")).alias("n_distinct"),
    )
    top = (
        toks.select(
            "doc_id",
            F.explode(
                F.zip_with(
                    F.slice("t", 1, F.size("t") - 1),
                    F.slice("t", 2, F.size("t") - 1),
                    lambda x, y: F.struct(x.alias("a"), y.alias("b")),
                )
            ).alias("p"),
        )
        .groupBy("doc_id", "p.a", "p.b")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(F.max("cnt").alias("top_cnt"))
    )
    dr = F.col("n_distinct") / F.col("n_tok").cast("double")
    tb = F.lit(2.0) * F.col("top_cnt") / F.col("n_tok")
    return base.join(top, "doc_id").select(
        "doc_id",
        "n_tok",
        _sround(dr, 4).alias("distinct_ratio"),
        _sround(tb, 4).alias("top_bigram_frac"),
        ((dr >= 0.3) & (tb <= 0.2)).alias("keep"),
    )


@query(
    "q214_dup_ngram_coverage",
    """
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
        FROM documents WHERE trim(text) <> ''
    ), ok AS (SELECT doc_id, t FROM toks WHERE len(t) >= 8),
    g AS (
        SELECT doc_id, md5(array_to_string(t[i:i+7], ' ')) AS g
        FROM (SELECT doc_id, t, unnest(range(1, len(t) - 6)) AS i FROM ok)
    ), dfreq AS (
        SELECT g, count(DISTINCT doc_id) AS nd FROM g GROUP BY g
    )
    SELECT doc_id, count(*) AS n_grams,
           count(*) FILTER (WHERE nd >= 2) AS n_dup,
           CAST(round(CAST(count(*) FILTER (WHERE nd >= 2)
                / CAST(count(*) AS DOUBLE)
                AS DECIMAL(30,10)), 4) AS DOUBLE) AS dup_coverage
    FROM g JOIN dfreq USING (g)
    GROUP BY doc_id
    """,
)
def q214_dup_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document REPEATED-SUBSTRING coverage — the span-level
    dedup signal (Lee et al.'s "Deduplicating Training Data" family)
    that document-level fingerprints (q23) and MinHash (q28) can't
    see: for every 8-token window position, is this exact window
    shared with ANY other document, and what fraction of each doc's
    positions are such shared spans. Docs with high coverage but no
    document-level duplicate are the template/boilerplate cases.

    Distributed shape: windows come from one codegen
    sequence/slice/md5 projection (q211's chunker at stride 1) and
    travel as 32-char digests, never token text; the cross-doc signal
    is a single count-distinct aggregate keyed by digest (combinable;
    digests are uniform so no hot key) joined back digest-keyed; one
    doc-keyed aggregate finishes. Linear in total token count, which
    at stride 1 is the floor for exact span dedup.

    Implementation note: the naive aggregate-then-join-back shape
    parses and hashes the corpus TWICE (the join's probe side
    re-derives the window table from scratch). Instead the windows
    aggregate once to (digest, doc, position_count) rows, the
    distinct-doc count per digest rides a count-over-Window on that
    already-reduced table, and the per-doc rollup weights by
    position_count — one corpus parse, identical results (2.6s ->
    ~0.9s at sf0.1)."""
    d = _t(spark, sf_dir, "documents")
    toks = (
        d.where(F.trim("text") != "")
        .select(
            "doc_id",
            F.split(F.trim(F.lower("text")), r"\s+").alias("t"),
        )
        .where(F.size("t") >= 8)
    )
    g = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 7),
                lambda i: F.md5(F.concat_ws(" ", F.slice("t", i, 8))),
            )
        ).alias("g"),
    )
    gp = g.groupBy("g", "doc_id").agg(
        F.count(F.lit(1)).alias("pos_cnt")
    )
    nd = F.count(F.lit(1)).over(Window.partitionBy("g"))
    dup = F.col("nd") >= 2
    return (
        gp.withColumn("nd", nd)
        .groupBy("doc_id")
        .agg(
            F.sum("pos_cnt").alias("n_grams"),
            F.coalesce(
                F.sum(F.when(dup, F.col("pos_cnt"))), F.lit(0)
            ).alias("n_dup"),
            _sround(
                F.coalesce(
                    F.sum(F.when(dup, F.col("pos_cnt"))), F.lit(0)
                )
                / F.sum("pos_cnt").cast("double"),
                4,
            ).alias("dup_coverage"),
        )
    )


@query(
    "q215_containment_pairs",
    """
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
        FROM documents WHERE trim(text) <> ''
    ), ok AS (SELECT doc_id, t FROM toks WHERE len(t) >= 5),
    sh AS (
        SELECT DISTINCT doc_id, md5(array_to_string(t[i:i+4], ' ')) AS g
        FROM (SELECT doc_id, t, unnest(range(1, len(t) - 3)) AS i FROM ok)
    ), dfq AS (SELECT g, count(*) AS df FROM sh GROUP BY g),
    k AS (
        SELECT sh.doc_id, sh.g FROM sh
        JOIN dfq ON sh.g = dfq.g WHERE dfq.df BETWEEN 2 AND 32
    ), sz AS (SELECT doc_id, count(*) AS n FROM k GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
               count(*) AS n_shared
        FROM k a JOIN k b ON a.g = b.g AND a.doc_id <> b.doc_id
        GROUP BY 1, 2
    )
    SELECT p.contained_id, p.container_id, p.n_shared,
           CAST(round(CAST(p.n_shared / CAST(s.n AS DOUBLE)
                AS DECIMAL(30,10)), 4) AS DOUBLE) AS containment
    FROM pairs p JOIN sz s ON s.doc_id = p.contained_id
    WHERE p.n_shared / CAST(s.n AS DOUBLE) >= 0.5
    """,
)
def q215_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric CONTAINMENT detection — the quote/excerpt case
    Jaccard misses: |shingles(A) ∩ shingles(B)| / |shingles(A)| over
    5-gram shingles, flagging documents mostly CONTAINED in another
    even when the container is much larger (a tiny Jaccard). The
    pipeline use is keeping the container and dropping the excerpt.

    Distributed shape: distinct shingles per doc travel as digests;
    a document-frequency cap (2 <= df <= 32, the q155 stop-
    fingerprint move) removes both unique shingles (can't pair) and
    ubiquitous boilerplate shingles BEFORE the digest-keyed pair
    join, so the join's fan-out per digest is bounded by 32² and the
    all-pairs blow-up structurally can't happen. Containment is
    measured against the capped shingle universe on BOTH sides of
    the ratio — a self-consistent contract both engines state.

    Implementation note: the capped table k is consumed three times
    (|A| sizes, both sides of the pair join); left lazy, each consumer
    would re-parse and re-hash the corpus. The per-doc distinct comes
    from ONE groupBy, the df cap from a count-over-Window on that
    reduced table, and k — tiny after the cap — is localCheckpoint-ed
    so the pair join and the size aggregate read materialized rows
    (2.5s -> ~0.9s at sf0.1)."""
    d = _t(spark, sf_dir, "documents")
    toks = (
        d.where(F.trim("text") != "")
        .select(
            "doc_id",
            F.split(F.trim(F.lower("text")), r"\s+").alias("t"),
        )
        .where(F.size("t") >= 5)
    )
    sh = (
        toks.select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - 4),
                    lambda i: F.md5(F.concat_ws(" ", F.slice("t", i, 5))),
                )
            ).alias("g"),
        )
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("_c"))
        .select("doc_id", "g")
    )
    k = (
        sh.withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("g"))
        )
        .where(F.col("df").between(2, 32))
        .select("doc_id", "g")
        .localCheckpoint()
    )
    sz = k.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = k.select(F.col("doc_id").alias("contained_id"), "g")
    b = k.select(F.col("doc_id").alias("container_id"), "g")
    pairs = (
        a.join(b, "g")
        .where(F.col("contained_id") != F.col("container_id"))
        .groupBy("contained_id", "container_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    cont = F.col("n_shared") / F.col("n").cast("double")
    return (
        pairs.join(
            sz.withColumnRenamed("doc_id", "contained_id"),
            "contained_id",
        )
        .where(cont >= 0.5)
        .select(
            "contained_id",
            "container_id",
            "n_shared",
            _sround(cont, 4).alias("containment"),
        )
    )


@query(
    "q216_knn_label_vote",
    """
    WITH ranked AS (
        SELECT q.vec_id AS qid, c.vec_id AS cid, c.label,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(
                       q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                       c.vec_id ASC
               ) AS rnk
        FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < 32
    ), votes AS (
        SELECT qid, label, count(*) AS votes
        FROM ranked WHERE rnk <= 10 GROUP BY qid, label
    ), win AS (
        SELECT qid, label, votes,
               row_number() OVER (
                   PARTITION BY qid ORDER BY votes DESC, label ASC
               ) AS vr
        FROM votes
    )
    SELECT qid AS query_id, label AS predicted_label, votes
    FROM win WHERE vr = 1
    """,
)
def q216_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN LABEL PROPAGATION — majority vote over the 10 nearest
    labeled neighbors by exact cosine, the standard weak-labeling /
    auto-annotation step that turns a small labeled seed into corpus
    labels (and, run against held-out vectors, the evaluation
    harness for every ANN index in the repo). Deterministic end to
    end: neighbor ties break on vec_id, vote ties on the smaller
    label.

    Distributed shape: q31's brute-force contract — the bounded
    query side broadcasts, every corpus partition scores its rows
    locally in JVM codegen, and the only shuffles are the two
    windows (per-query rank, per-query vote), both keyed by query id
    so parallelism equals |queries|. At 100 TB the scoring scan is
    the cost and is embarrassingly parallel; swap in the IVF probe
    (q140) for the candidate set when exactness can be traded."""
    from ..functions.similarity import cosine_similarity

    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 32).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
    )
    c = e.select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("cv"),
        "label",
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("cid") != F.col("qid"))
        .select(
            "qid",
            "cid",
            "label",
            cosine_similarity(F.col("qv"), F.col("cv")).alias("sim"),
        )
    )
    wr = Window.partitionBy("qid").orderBy(
        F.col("sim").desc(), F.col("cid").asc()
    )
    votes = (
        scored.withColumn("rnk", F.row_number().over(wr))
        .where(F.col("rnk") <= 10)
        .groupBy("qid", "label")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    wv = Window.partitionBy("qid").orderBy(
        F.col("votes").desc(), F.col("label").asc()
    )
    return (
        votes.withColumn("vr", F.row_number().over(wv))
        .where(F.col("vr") == 1)
        .select(
            F.col("qid").alias("query_id"),
            F.col("label").alias("predicted_label"),
            "votes",
        )
    )


@query(
    "q217_int8_quantization",
    """
    WITH x AS (
        SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
        FROM (SELECT vec_id, embedding,
                     unnest(range(1, len(embedding) + 1)) AS i
              FROM embeddings)
    ), stats AS (
        SELECT i, min(x) AS mn, max(x) AS mx FROM x GROUP BY i
    ), q AS (
        SELECT x.vec_id, x.x,
               CASE WHEN s.mx = s.mn THEN 0.0
                    ELSE floor((x.x - s.mn) * 255.0 / (s.mx - s.mn)
                               + 0.5) END AS code,
               s.mn, s.mx
        FROM x JOIN stats s ON x.i = s.i
    ), r AS (
        SELECT vec_id,
               x - (mn + code * (mx - mn) / 255.0) AS err
        FROM q
    )
    SELECT vec_id,
           CAST(round(CAST(avg(err * err) AS DECIMAL(30,10)), 6)
                AS DOUBLE) AS mse,
           CAST(round(CAST(max(abs(err)) AS DECIMAL(30,10)), 6)
                AS DOUBLE) AS max_abs_err
    FROM r GROUP BY vec_id
    """,
)
def q217_int8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INT8 SCALAR QUANTIZATION with per-dimension min/max
    calibration — the 4x vector-compression baseline every serving
    store offers (PQ's q191/q192 sibling at the other point of the
    accuracy/ratio curve), reported as per-vector reconstruction MSE
    and max absolute error so the quality loss is a first-class,
    oracle-pinned output rather than a claim.

    Distributed shape: calibration is one combinable min/max
    aggregate over (dim, value) pairs — d keys, never hot; the d-row
    stats table broadcasts back into a single codegen
    quantize-dequantize-error projection; one vec-keyed aggregate
    finishes. Two linear scans total, no Python anywhere. Codes are
    floor(z + 0.5) on identical IEEE doubles in both engines, so the
    integer codes — not just the rounded errors — are bit-equal."""
    e = _t(spark, sf_dir, "embeddings")
    x = e.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "i", "x"
        ),
    )
    stats = x.groupBy("i").agg(
        F.min("x").alias("mn"), F.max("x").alias("mx")
    )
    q = x.join(F.broadcast(stats), "i").select(
        "vec_id",
        "x",
        F.when(F.col("mx") == F.col("mn"), F.lit(0.0))
        .otherwise(
            F.floor(
                (F.col("x") - F.col("mn"))
                * 255.0
                / (F.col("mx") - F.col("mn"))
                + 0.5
            ).cast("double")
        )
        .alias("code"),
        "mn",
        "mx",
    )
    r = q.select(
        "vec_id",
        (
            F.col("x")
            - (
                F.col("mn")
                + F.col("code") * (F.col("mx") - F.col("mn")) / 255.0
            )
        ).alias("err"),
    )
    return r.groupBy("vec_id").agg(
        _sround(F.avg(F.col("err") * F.col("err")), 6).alias("mse"),
        _sround(F.max(F.abs("err")), 6).alias("max_abs_err"),
    )


@query(
    "q218_bpe_frozen_apply",
    """
    WITH words1 AS (
        SELECT w AS word, count(*) AS freq FROM (
            SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
            FROM documents WHERE trim(text) <> '' AND doc_id % 3 < 2
        ) WHERE w <> '' GROUP BY w
    ), t0 AS (
        SELECT word, freq, [word[i] FOR i IN range(1, len(word)+1)] AS s
        FROM words1
    ), p1 AS (
        SELECT s[i] AS a, s[i+1] AS b, sum(freq) AS cnt
        FROM t0, (SELECT unnest(range(1, 64)) AS i)
        WHERE i < len(s) AND s[i] <> s[i+1] GROUP BY 1, 2
    ), m1 AS (SELECT a, b FROM p1 ORDER BY cnt DESC, a, b LIMIT 1),
    t1 AS (
        SELECT word, freq, list(sym ORDER BY pos) AS s FROM (
            SELECT w.word, w.freq, t.i AS pos,
                   CASE WHEN w.s[t.i] = m.a AND w.s[t.i+1] = m.b
                        THEN w.s[t.i] || w.s[t.i+1] ELSE w.s[t.i] END AS sym,
                   (t.i > 1 AND w.s[t.i-1] = m.a AND w.s[t.i] = m.b)
                       AS dropped
            FROM t0 w, (SELECT unnest(range(1, 65)) AS i) t, m1 m
            WHERE t.i <= len(w.s)
        ) WHERE NOT dropped GROUP BY word, freq
    ), p2 AS (
        SELECT s[i] AS a, s[i+1] AS b, sum(freq) AS cnt
        FROM t1, (SELECT unnest(range(1, 64)) AS i)
        WHERE i < len(s) AND s[i] <> s[i+1] GROUP BY 1, 2
    ), m2 AS (SELECT a, b FROM p2 ORDER BY cnt DESC, a, b LIMIT 1),
    wb AS (
        SELECT w AS word FROM (
            SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
            FROM documents WHERE trim(text) <> '' AND doc_id % 3 = 2
        ) WHERE w <> '' GROUP BY w
    ), b0 AS (
        SELECT word, [word[i] FOR i IN range(1, len(word)+1)] AS s
        FROM wb
    ), b1 AS (
        SELECT word, list(sym ORDER BY pos) AS s FROM (
            SELECT w.word, t.i AS pos,
                   CASE WHEN w.s[t.i] = m.a AND w.s[t.i+1] = m.b
                        THEN w.s[t.i] || w.s[t.i+1] ELSE w.s[t.i] END AS sym,
                   (t.i > 1 AND w.s[t.i-1] = m.a AND w.s[t.i] = m.b)
                       AS dropped
            FROM b0 w, (SELECT unnest(range(1, 65)) AS i) t, m1 m
            WHERE t.i <= len(w.s)
        ) WHERE NOT dropped GROUP BY word
    ), b2 AS (
        SELECT word, list(sym ORDER BY pos) AS s FROM (
            SELECT w.word, t.i AS pos,
                   CASE WHEN w.s[t.i] = m.a AND w.s[t.i+1] = m.b
                        THEN w.s[t.i] || w.s[t.i+1] ELSE w.s[t.i] END AS sym,
                   (t.i > 1 AND w.s[t.i-1] = m.a AND w.s[t.i] = m.b)
                       AS dropped
            FROM b1 w, (SELECT unnest(range(1, 65)) AS i) t, m2 m
            WHERE t.i <= len(w.s)
        ) WHERE NOT dropped GROUP BY word
    ), enc AS (SELECT word, len(s) AS n_sub FROM b2),
    dw AS (
        SELECT doc_id, w FROM (
            SELECT doc_id,
                   unnest(regexp_split_to_array(trim(lower(text)), '\\s+'))
                       AS w
            FROM documents WHERE trim(text) <> '' AND doc_id % 3 = 2
        ) WHERE w <> ''
    )
    SELECT d.doc_id, count(*) AS n_words,
           CAST(sum(e.n_sub) AS BIGINT) AS n_bpe_tokens
    FROM dw d JOIN enc e ON d.w = e.word
    GROUP BY d.doc_id
    """,
)
def q218_bpe_frozen_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FROZEN-TOKENIZER encoding against persisted state
    (operators/bpe_state.py) — the deployment contract every real
    tokenizer lives by: merge rules train ONCE (here on the
    doc_id%3<2 vintage) and persist; every later batch encodes under
    the frozen rules without retraining, or token counts stop being
    comparable across corpus vintages. q180's frozen-pivot / q198's
    frozen-codebook contract applied to text.

    The oracle restates the whole thing from scratch: train 2 merges
    on batch 1, apply exactly those rules to batch 2's words, roll up
    per batch-2 document — so the persisted round-trip provably
    changes nothing. Apply cost: the rule table is bounded by
    `rounds` (collected under the bounded-driver contract), each rule
    replays as a broadcast one-row codegen fuse over the batch's
    |vocabulary|-row word table, and corpus scale enters only through
    the final word-keyed join."""
    from ..operators.bpe_state import apply_bpe_state, build_bpe_state

    d = _t(spark, sf_dir, "documents")
    b_train = d.where(F.pmod("doc_id", F.lit(3)) < 2)
    b_new = d.where(F.pmod("doc_id", F.lit(3)) == 2)
    work = tempfile.mkdtemp(prefix="ehs_bpestate_")
    build_bpe_state(b_train, work, "text", rounds=2)
    enc = apply_bpe_state(b_new, work, "text")
    dw = (
        b_new.where(F.trim("text") != "")
        .select(
            "doc_id",
            F.explode(
                F.split(F.trim(F.lower("text")), r"\s+")
            ).alias("w"),
        )
        .where(F.col("w") != "")
    )
    return (
        dw.join(enc, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_sub").alias("n_bpe_tokens"),
        )
    )


@query(
    "q219_k_anonymity",
    """
    WITH g AS (
        SELECT c_nationkey, c_mktsegment, count(*) AS n
        FROM customer GROUP BY c_nationkey, c_mktsegment
    ), lab AS (
        SELECT CASE WHEN n >= 10 THEN CAST(c_nationkey AS VARCHAR)
                    ELSE '*' END AS nation_label,
               CASE WHEN n >= 10 THEN c_mktsegment
                    ELSE '*' END AS segment_label,
               n
        FROM g
    )
    SELECT nation_label, segment_label,
           CAST(sum(n) AS BIGINT) AS n_rows,
           count(*) AS n_groups
    FROM lab GROUP BY nation_label, segment_label
    """,
)
def q219_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-ANONYMITY suppression over quasi-identifiers — the
    privacy-side companion to PII redaction (q26): any
    (nation, market-segment) combination identifying fewer than k=10
    customers is suppressed into the '*' bucket, so no released group
    is smaller than k. Released groups keep their labels and exact
    counts; the suppressed remainder is published only as one merged
    bucket with its row and group totals (the audit trail a release
    reviewer needs).

    Distributed shape: one combinable count aggregate over the
    quasi-identifier key, then the CASE relabel + re-aggregate run on
    the already-reduced |groups| table — at 100 TB the data is
    touched once and everything after the first groupBy is
    metadata-sized."""
    c = _t(spark, sf_dir, "customer")
    g = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n")
    )
    big = F.col("n") >= 10
    lab = g.select(
        F.when(big, F.col("c_nationkey").cast("string"))
        .otherwise(F.lit("*"))
        .alias("nation_label"),
        F.when(big, F.col("c_mktsegment"))
        .otherwise(F.lit("*"))
        .alias("segment_label"),
        "n",
    )
    return lab.groupBy("nation_label", "segment_label").agg(
        F.sum("n").alias("n_rows"),
        F.count(F.lit(1)).alias("n_groups"),
    )


@query(
    "q220_temperature_mix",
    """
    WITH s AS (
        SELECT source, count(*) AS n_docs,
               CAST(sum(len(regexp_split_to_array(trim(text), '\\s+')))
                    AS BIGINT) AS n_tokens
        FROM documents WHERE trim(text) <> '' GROUP BY source
    ), p AS (
        SELECT source, n_docs, n_tokens,
               pow(n_tokens, 0.5) AS raw,
               sum(pow(n_tokens, 0.5)) OVER () AS tot,
               sum(n_tokens) OVER () AS all_tokens
        FROM s
    )
    SELECT source, n_docs, n_tokens,
           CAST(round(CAST(n_tokens / CAST(all_tokens AS DOUBLE)
                AS DECIMAL(30,10)), 6) AS DOUBLE) AS natural_weight,
           CAST(round(CAST(raw / tot AS DECIMAL(30,10)), 6) AS DOUBLE)
               AS temp_weight,
           CAST(floor(raw / tot * all_tokens) AS BIGINT)
               AS epoch_token_quota
    FROM p
    """,
)
def q220_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPERATURE-SCALED mixture weights (alpha = 0.5) — the
    multilingual/multi-source rebalancing rule (w_i proportional to
    n_i^alpha) that up-weights small sources relative to natural
    sampling without letting any source dominate; emitted next to the
    natural weights and as per-epoch token quotas, which is exactly
    the budget input q208's admission pass consumes.

    Distributed shape: ONE combinable per-source aggregate reduces
    the corpus to |sources| rows; the normalization windows run on
    that metadata-sized table, so everything after the first groupBy
    is free at any corpus size. The 6dp DECIMAL rounding keeps both
    engines' pow/divide results hash-identical."""
    d = _t(spark, sf_dir, "documents")
    s = (
        d.where(F.trim("text") != "")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.size(F.split(F.trim("text"), r"\s+"))
            ).alias("n_tokens"),
        )
    )
    w = Window.partitionBy()
    p = s.select(
        "source",
        "n_docs",
        "n_tokens",
        F.pow("n_tokens", F.lit(0.5)).alias("raw"),
        F.sum(F.pow("n_tokens", F.lit(0.5))).over(w).alias("tot"),
        F.sum("n_tokens").over(w).alias("all_tokens"),
    )
    return p.select(
        "source",
        "n_docs",
        "n_tokens",
        _sround(
            F.col("n_tokens") / F.col("all_tokens").cast("double"), 6
        ).alias("natural_weight"),
        _sround(F.col("raw") / F.col("tot"), 6).alias("temp_weight"),
        F.floor(
            F.col("raw") / F.col("tot") * F.col("all_tokens")
        ).cast("long").alias("epoch_token_quota"),
    )


@query(
    "q221_span_state",
    """
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
        FROM documents WHERE trim(text) <> ''
    ), ok AS (SELECT doc_id, t FROM toks WHERE len(t) >= 8),
    g AS (
        SELECT doc_id, md5(array_to_string(t[i:i+7], ' ')) AS g
        FROM (SELECT doc_id, t, unnest(range(1, len(t) - 6)) AS i FROM ok)
    ), g1 AS (
        SELECT DISTINCT g FROM g WHERE doc_id % 2 = 0
    ), g2 AS (
        SELECT doc_id, g FROM g WHERE doc_id % 2 = 1
    ), nd2 AS (
        SELECT g, count(DISTINCT doc_id) AS nd FROM g2 GROUP BY g
    ), m AS (
        SELECT g2.doc_id,
               (nd2.nd >= 2 OR g1.g IS NOT NULL) AS dup
        FROM g2
        JOIN nd2 ON g2.g = nd2.g
        LEFT JOIN g1 ON g2.g = g1.g
    )
    SELECT doc_id AS id, count(*) AS n_grams,
           count(*) FILTER (WHERE dup) AS n_dup,
           CAST(round(CAST(count(*) FILTER (WHERE dup)
                / CAST(count(*) AS DOUBLE)
                AS DECIMAL(30,10)), 4) AS DOUBLE) AS dup_coverage
    FROM m GROUP BY doc_id
    """,
)
def q221_span_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL span dedup against persisted state
    (operators/dedup_state.py::span_dedup_incremental) — q214's
    duplicated-window coverage as a cross-run pipeline stage, the
    fourth dedup modality (exact, MinHash, embedding) to get the
    state-store treatment: batch 1 (doc_id%2==0) seeds the n-gram
    digest ledger, batch 2 (doc_id%2==1) is scored against the
    accumulated state PLUS its own cross-document repeats, and only
    new digests append. The oracle restates batch 2's verdicts from
    scratch (batch-1 membership ∪ second-batch-2-doc membership), so
    the persisted round-trip provably changes nothing; replay
    idempotency and history immutability are pytest-covered
    (tests/test_dedup_state_crossrun.py).

    Per-apply cost: one codegen digest projection over the batch, one
    (digest, doc) aggregate + count-over-Window, one digest-keyed
    left join against the state (the only contact with history), one
    O(new digests) ledger append — linear in batch tokens, never in
    accumulated corpus text."""
    from ..operators.dedup_state import span_dedup_incremental

    d = _t(spark, sf_dir, "documents")
    work = tempfile.mkdtemp(prefix="ehs_spanstate_")
    span_dedup_incremental(
        d.where(F.pmod("doc_id", F.lit(2)) == 0), work, 1
    )
    return span_dedup_incremental(
        d.where(F.pmod("doc_id", F.lit(2)) == 1), work, 2
    )


@query(
    "q222_minhash_calibration",
    _MINHASH_SQL
    + """
    , bands AS (
        SELECT id, seed // 4 AS band,
               md5(string_agg(CAST(minhash AS VARCHAR), ','
                              ORDER BY seed)) AS band_key
        FROM sigs GROUP BY id, seed // 4
    ), cand AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_key = b.band_key AND a.id < b.id
    ), est AS (
        SELECT c.id_a, c.id_b,
               sum(CASE WHEN sa.minhash = sb.minhash
                        THEN 1 ELSE 0 END) / 16.0 AS est
        FROM cand c
        JOIN sigs sa ON sa.id = c.id_a
        JOIN sigs sb ON sb.id = c.id_b AND sb.seed = sa.seed
        GROUP BY c.id_a, c.id_b
    ), sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
    shared AS (
        SELECT c.id_a, c.id_b, count(*) AS shared
        FROM cand c
        JOIN sh a ON a.id = c.id_a
        JOIN sh b ON b.id = c.id_b AND b.shingle = a.shingle
        GROUP BY c.id_a, c.id_b
    )
    SELECT e.id_a, e.id_b,
           CAST(round(CAST(e.est AS DECIMAL(30,10)), 4) AS DOUBLE)
               AS est_jaccard,
           CAST(round(CAST(coalesce(s.shared, 0)
                / CAST(sa.n + sb.n - coalesce(s.shared, 0) AS DOUBLE)
                AS DECIMAL(30,10)), 4) AS DOUBLE) AS exact_jaccard,
           CAST(round(CAST(abs(e.est - coalesce(s.shared, 0)
                / CAST(sa.n + sb.n - coalesce(s.shared, 0) AS DOUBLE))
                AS DECIMAL(30,10)), 4) AS DOUBLE) AS abs_err
    FROM est e
    LEFT JOIN shared s ON s.id_a = e.id_a AND s.id_b = e.id_b
    JOIN sizes sa ON sa.id = e.id_a
    JOIN sizes sb ON sb.id = e.id_b
    """,
)
def q222_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash ESTIMATOR CALIBRATION — the q08b recall-gate treatment
    applied to the dedup stack's other estimator: for every LSH
    candidate pair, the MinHash Jaccard estimate (matching minhashes
    / 16) is put NEXT TO the exact shingle-set Jaccard and the
    absolute error, so the sketch the pipeline trusts for
    keep-or-drop decisions is calibrated in-plan, per pair,
    oracle-pinned — not assumed from the textbook bound.

    Distributed shape: candidates and estimates both project off the
    ONE-row-per-doc wide minhash aggregate (no signature re-shuffle);
    exact Jaccard is computed ONLY for candidate pairs — the bounded
    pair table joins each side's distinct-shingle list, so the exact
    check costs O(pairs × shingles/doc), never the all-pairs join the
    oracle is allowed to state."""
    from ..functions.dedup import (
        _minhash_wide,
        minhash_lsh_candidates,
        shingle_table,
    )

    d = _t(spark, sf_dir, "documents")
    cand = minhash_lsh_candidates(
        d, "doc_id", "text", num_hashes=16, bands=4, shingle_size=3
    ).localCheckpoint()  # consumed by est AND exact sides
    # every downstream branch needs only CANDIDATE docs — reduce both
    # substrates behind a broadcast semi-join and materialize them
    # once, so the corpus is scanned twice total (signatures,
    # shingles) instead of once per consumer
    ids = cand.select(
        F.explode(F.array("id_a", "id_b")).alias("id")
    ).distinct()
    wide = (
        _minhash_wide(d, "doc_id", "text", 16, 3)
        .join(F.broadcast(ids), "id", "leftsemi")
        .localCheckpoint()
    )
    wa = wide.select(
        F.col("id").alias("id_a"),
        *[F.col(f"mh_{i}").alias(f"a_{i}") for i in range(16)],
    )
    wb = wide.select(
        F.col("id").alias("id_b"),
        *[F.col(f"mh_{i}").alias(f"b_{i}") for i in range(16)],
    )
    matches = sum(
        (F.col(f"a_{i}") == F.col(f"b_{i}")).cast("int")
        for i in range(16)
    )
    est = (
        cand.join(wa, "id_a")
        .join(wb, "id_b")
        .select(
            "id_a", "id_b", (matches / F.lit(16.0)).alias("est")
        )
    )
    sh = (
        shingle_table(d, "doc_id", "text", 3)
        .join(F.broadcast(ids), "id", "leftsemi")
        .localCheckpoint()
    )
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    shared = (
        cand.join(
            sh.select(F.col("id").alias("id_a"), "shingle"), "id_a"
        )
        .join(
            sh.select(F.col("id").alias("id_b"), "shingle"),
            ["id_b", "shingle"],
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sz_a = sizes.select(F.col("id").alias("id_a"), F.col("n").alias("na"))
    sz_b = sizes.select(F.col("id").alias("id_b"), F.col("n").alias("nb"))
    ex = F.coalesce(F.col("shared"), F.lit(0)) / (
        F.col("na") + F.col("nb") - F.coalesce(F.col("shared"), F.lit(0))
    ).cast("double")
    return (
        est.join(shared, ["id_a", "id_b"], "left")
        .join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .select(
            "id_a",
            "id_b",
            _sround(F.col("est"), 4).alias("est_jaccard"),
            _sround(ex, 4).alias("exact_jaccard"),
            _sround(F.abs(F.col("est") - ex), 4).alias("abs_err"),
        )
    )


@query(
    "q223_tpch_refresh",
    """
    WITH mx AS (SELECT max(o_orderkey) AS mk FROM orders),
    ins AS (
        SELECT o_orderkey + mx.mk + 1 AS o_orderkey, o_orderstatus,
               o_totalprice
        FROM orders, mx WHERE o_orderkey % 5 = 0
    ), merged AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        UNION ALL SELECT * FROM ins
    ), kept AS (
        SELECT * FROM merged WHERE o_orderkey % 7 <> 3
    )
    SELECT o_orderstatus, count(*) AS n_orders,
           CAST(round(CAST(sum(o_totalprice) AS DECIMAL(30,10)), 2)
                AS DOUBLE) AS total_price
    FROM kept GROUP BY o_orderstatus
    """,
)
def q223_tpch_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-style REFRESH (RF1 insert + RF2 delete) driven through
    the MERGE machinery (operators/merge.py) — the warehouse-
    maintenance shape the reference's `load` recipes feed, here under
    the oracle gate end to end: a key-shifted copy of every 5th order
    inserts via MERGE (WHEN NOT MATCHED INSERT) into a copy-on-write
    parquet table, o_orderkey%7==3 rows delete via MERGE (WHEN
    MATCHED DELETE, insert disabled), and the refreshed table rolls up
    per order status. The oracle restates insert+delete as
    UNION ALL + anti-filter — so the staged full-outer-join merge and
    its atomic directory swap provably produce the set-theoretic
    result, not just a pytest-shaped one.

    Scale shape: each MERGE is ONE full-outer equi-join on the key +
    a rewrite of the table (copy-on-write swap; on a real lake the
    same call lands on Delta/Iceberg metadata pointers). The rollup
    is a combinable aggregate. Nothing here is driver-bound except
    the bounded max-key read."""
    from ..operators.merge import merge_into_parquet

    d = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    work = tempfile.mkdtemp(prefix="ehs_refresh_")
    target = os.path.join(work, "orders")
    d.write.parquet(target)
    mk = d.agg(F.max("o_orderkey")).first()[0]
    ins = d.where(F.pmod("o_orderkey", F.lit(5)) == 0).select(
        (F.col("o_orderkey") + F.lit(int(mk) + 1)).alias("o_orderkey"),
        "o_orderstatus",
        "o_totalprice",
    )
    merge_into_parquet(spark, target, ins, ["o_orderkey"])
    cur = read_parquet_state(spark, target)
    dels = cur.where(F.pmod("o_orderkey", F.lit(7)) == 3).select(
        "o_orderkey"
    )
    merge_into_parquet(
        spark,
        target,
        dels,
        ["o_orderkey"],
        when_matched_delete="true",
        when_not_matched_insert=False,
    )
    return (
        read_parquet_state(spark, target)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _sround(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


@query(
    "q224_pipeline_funnel",
    """
    WITH s AS (
        SELECT doc_id, source,
               len(regexp_split_to_array(trim(text), '\\s+')) AS n_tok,
               length(regexp_replace(trim(text), '[^.,;:!?]', '', 'g'))
                   / greatest(length(trim(text)), 1) AS pr,
               md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
                   AS fp
        FROM documents WHERE trim(text) <> ''
    ), f AS (
        SELECT source, n_tok,
               (n_tok BETWEEN 5 AND 10000) AS len_ok,
               (n_tok BETWEEN 5 AND 10000 AND pr <= 0.3) AS qual_ok,
               CASE WHEN n_tok BETWEEN 5 AND 10000 AND pr <= 0.3
                    THEN row_number() OVER (
                        PARTITION BY fp,
                            (n_tok BETWEEN 5 AND 10000 AND pr <= 0.3)
                        ORDER BY doc_id)
                    END AS rn
        FROM s
    )
    SELECT source, count(*) AS n_total,
           count(*) FILTER (WHERE len_ok) AS n_len_ok,
           count(*) FILTER (WHERE qual_ok) AS n_quality_ok,
           count(*) FILTER (WHERE qual_ok AND rn = 1) AS n_final,
           CAST(coalesce(sum(n_tok)
                FILTER (WHERE qual_ok AND rn = 1), 0) AS BIGINT)
               AS final_tokens
    FROM f GROUP BY source
    """,
)
def q224_pipeline_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end CURATION FUNNEL audit — the whole cleaning pipeline
    (length gate → punctuation-quality gate → first-seen exact dedup)
    as ONE declarative plan, reporting per source how many documents
    survive each stage and the token mass that reaches training. This
    is the per-ingest report a data curator actually reads — and
    because each stage is a column, not a materialized intermediate,
    Catalyst fuses the entire funnel into one scan + one
    fingerprint-keyed window + one aggregate.

    Stage semantics pinned by the oracle: the dedup survivor is
    elected among QUALITY-PASSING docs only (partitioning the
    first-seen window by the quality flag), so a failed doc can never
    shadow a good duplicate — the ordering bug naive funnel SQL gets
    wrong. Linear at any scale; the window keys are content
    fingerprints, so no hot key exists."""
    d = _t(spark, sf_dir, "documents")
    from ..functions.text import document_fingerprint, punct_ratio

    tx = F.trim("text")
    s = d.where(tx != "").select(
        "doc_id",
        "source",
        F.size(F.split(tx, r"\s+")).alias("n_tok"),
        punct_ratio(tx).alias("pr"),
        document_fingerprint(tx).alias("fp"),
    )
    len_ok = F.col("n_tok").between(5, 10000)
    qual_ok = len_ok & (F.col("pr") <= 0.3)
    w = Window.partitionBy("fp", qual_ok).orderBy("doc_id")
    f = s.select(
        "source",
        "n_tok",
        len_ok.alias("len_ok"),
        qual_ok.alias("qual_ok"),
        F.when(qual_ok, F.row_number().over(w)).alias("rn"),
    )
    final = F.col("qual_ok") & (F.col("rn") == 1)
    return f.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count(F.when(F.col("len_ok"), 1)).alias("n_len_ok"),
        F.count(F.when(F.col("qual_ok"), 1)).alias("n_quality_ok"),
        F.count(F.when(final, 1)).alias("n_final"),
        F.coalesce(
            F.sum(F.when(final, F.col("n_tok"))), F.lit(0)
        ).alias("final_tokens"),
    )


@query(
    "q225_shard_manifest",
    """
    WITH r AS (
        SELECT doc_id,
               md5(concat('42|', CAST(doc_id AS VARCHAR))) AS h,
               md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
                   AS fp,
               len(regexp_split_to_array(trim(text), '\\s+')) AS n_tok
        FROM documents
    ), o AS (
        SELECT doc_id, fp, n_tok,
               row_number() OVER (ORDER BY h, doc_id) - 1 AS rank
        FROM r
    )
    SELECT rank // 256 AS shard, count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           md5(string_agg(fp, ',' ORDER BY rank)) AS content_hash
    FROM o GROUP BY rank // 256
    """,
)
def q225_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard MANIFEST with content CHECKSUMS — the verification
    artifact the export step (q205) should ship with: per shard, the
    row count, the token mass, and an order-sensitive md5 over the
    member documents' content fingerprints in replay order. A loader
    (or a re-run on different hardware) recomputes the same hashes or
    refuses the shards — the export contract made checkable, byte for
    byte, which is exactly how the oracle pins it here.

    Distributed shape: the global rank is export.py's two-phase
    prefix sum (never a single-partition window); the checksum is one
    combinable collect_list per shard (bounded: shard size is fixed
    at 256) sorted in-array by rank — shards are independent, so the
    manifest aggregate is embarrassingly parallel."""
    from ..operators.export import deterministic_shuffle_rank
    from ..functions.text import document_fingerprint

    tx = F.trim("text")
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        document_fingerprint(tx).alias("fp"),
        F.size(F.split(tx, r"\s+")).alias("n_tok"),
    )
    ranked = deterministic_shuffle_rank(d, ["doc_id"], seed=42)
    return (
        ranked.withColumn(
            "shard", F.floor(F.col("rank") / F.lit(256)).cast("long")
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.md5(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("rank", "fp"))
                        ),
                        lambda s: s["fp"],
                    ),
                )
            ).alias("content_hash"),
        )
    )


@query(
    "q226_null_drift",
    """
    WITH a AS (
        SELECT CASE WHEN value < 10 THEN NULL ELSE value END AS value,
               user_id
        FROM events
    ), ra AS (
        SELECT 'value' AS c,
               CAST(round(CAST(avg(CASE WHEN value IS NULL
                    THEN 1.0 ELSE 0.0 END) AS DECIMAL(30,10)), 6)
                    AS DOUBLE) AS null_rate_a
        FROM a
        UNION ALL
        SELECT 'user_id',
               CAST(round(CAST(avg(CASE WHEN user_id IS NULL
                    THEN 1.0 ELSE 0.0 END) AS DECIMAL(30,10)), 6)
                    AS DOUBLE)
        FROM a
    ), rb AS (
        SELECT 'value' AS c,
               CAST(round(CAST(avg(CASE WHEN value IS NULL
                    THEN 1.0 ELSE 0.0 END) AS DECIMAL(30,10)), 6)
                    AS DOUBLE) AS null_rate_b
        FROM events
        UNION ALL
        SELECT 'user_id',
               CAST(round(CAST(avg(CASE WHEN user_id IS NULL
                    THEN 1.0 ELSE 0.0 END) AS DECIMAL(30,10)), 6)
                    AS DOUBLE)
        FROM events
    )
    SELECT ra.c AS "column", ra.null_rate_a, rb.null_rate_b,
           CAST(round(CAST(rb.null_rate_b - ra.null_rate_a
                AS DECIMAL(30,10)), 6) AS DOUBLE) AS delta
    FROM ra JOIN rb ON ra.c = rb.c
    """,
)
def q226_null_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-RATE drift between two vintages
    (functions/drift.py::null_rate_drift) — the completeness check a
    pipeline runs when a feed's parser or upstream sensor changes: a
    simulated lossy vintage (value dropped below 10 — sensor dropout)
    against the raw feed, per column, with the delta. A column whose
    null rate jumps is the first symptom of a silent schema/parser
    regression — cheaper to catch here than in model metrics.

    Distributed shape: ONE single-scan aggregate per side computes
    every column's rate at once (isnull → avg, all columns in one
    projection), melted via a map literal and joined on the column
    name — O(cols) result rows, two scans total, no per-column
    jobs."""
    from ..functions.drift import null_rate_drift

    e = _t(spark, sf_dir, "events")
    a = e.select(
        F.when(F.col("value") < 10, F.lit(None))
        .otherwise(F.col("value"))
        .alias("value"),
        "user_id",
    )
    b = e.select("value", "user_id")
    return null_rate_drift(a, b, ["value", "user_id"])


def _bpe_oracle_words_cte(
    name: str, where: str, with_freq: bool = True
) -> str:
    """Word-table CTE pair ``<name>w`` / ``<name>0`` — (word, freq, s)
    or (word, s) — for the generated BPE oracles. The unrolled
    position CTEs downstream cap at 64 symbols per word, so a longer
    word FAILS LOUDLY here (error()) instead of silently dropping
    pair positions the engine counts — the Spark side mirrors the
    same bound with its own loud check (_bpe_assert_max_word_len)."""
    freq_sel = ", count(*) AS freq" if with_freq else ""
    freq_col = "freq, " if with_freq else ""
    return f"""{name}w AS MATERIALIZED (
    SELECT w AS word{freq_sel} FROM (
        SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
        FROM documents WHERE trim(text) <> '' AND {where}
    ) WHERE w <> '' GROUP BY w
), {name}0 AS MATERIALIZED (
    SELECT word, {freq_col}
           CASE WHEN len(word) > 64
                THEN error('BPE oracle: word exceeds the 64-symbol unroll')
                ELSE [word[i] FOR i IN range(1, len(word)+1)] END AS s
    FROM {name}w
)"""


def _bpe_assert_max_word_len(d: DataFrame, limit: int = 64) -> None:
    """Loud Spark-side mirror of the generated BPE oracle's 64-symbol
    position unroll: the engine (zip_with over the full symbol array)
    handles any word length, but the oracle cannot — so a corpus word
    beyond the bound must fail HERE, not surface as an undiagnosable
    hash mismatch. One tiny agg over the documents batch."""
    mx = (
        d.where(F.trim("text") != "")
        .select(
            F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("w")
        )
        .where(F.col("w") != "")
        .agg(F.max(F.length("w")).alias("mx"))
        .first()
    )
    if mx is not None and mx["mx"] is not None and int(mx["mx"]) > limit:
        raise ValueError(
            f"BPE generated oracle supports words up to {limit} symbols; "
            f"corpus has a word of length {mx['mx']}"
        )


def _bpe_oracle_train_ctes(rounds: int) -> str:
    """*rounds* unrolled training rounds (p{k}/m{k}/t{k} CTE triples
    over the t0 word table). GENERATED — at realistic merge counts a
    handwritten unroll is impossible, but the discipline is unchanged:
    the oracle restates the exact pair-count/winner/fuse arithmetic,
    round by round, in SQL. Every CTE is MATERIALIZED: DuckDB inlines
    plain CTEs, and a 64-deep chain whose every link is referenced
    twice would expand exponentially (measured: fd exhaustion from
    2^k parquet scans)."""
    parts = []
    for k in range(1, rounds + 1):
        parts.append(f"""p{k} AS MATERIALIZED (
    SELECT s[i] AS a, s[i+1] AS b, sum(freq) AS cnt
    FROM t{k - 1}, (SELECT unnest(range(1, 64)) AS i)
    WHERE i < len(s) AND s[i] <> s[i+1] GROUP BY 1, 2
), m{k} AS MATERIALIZED (
    SELECT a, b, cnt FROM p{k} ORDER BY cnt DESC, a, b LIMIT 1
),
t{k} AS MATERIALIZED (
    SELECT word, freq, list(sym ORDER BY pos) AS s FROM (
        SELECT w.word, w.freq, t.i AS pos,
               CASE WHEN w.s[t.i] = m.a AND w.s[t.i+1] = m.b
                    THEN w.s[t.i] || w.s[t.i+1] ELSE w.s[t.i] END AS sym,
               (t.i > 1 AND w.s[t.i-1] = m.a AND w.s[t.i] = m.b)
                   AS dropped
        FROM t{k - 1} w, (SELECT unnest(range(1, 65)) AS i) t, m{k} m
        WHERE t.i <= len(w.s)
    ) WHERE NOT dropped GROUP BY word, freq
)""")
    return ",\n".join(parts)


def _bpe_oracle_apply_ctes(rounds: int) -> str:
    """*rounds* unrolled FROZEN-rule fuses (b{k} CTEs over the b0 word
    table, consuming the training chain's m{k} winners)."""
    parts = []
    for k in range(1, rounds + 1):
        parts.append(f"""b{k} AS MATERIALIZED (
    SELECT word, list(sym ORDER BY pos) AS s FROM (
        SELECT w.word, t.i AS pos,
               CASE WHEN w.s[t.i] = m.a AND w.s[t.i+1] = m.b
                    THEN w.s[t.i] || w.s[t.i+1] ELSE w.s[t.i] END AS sym,
               (t.i > 1 AND w.s[t.i-1] = m.a AND w.s[t.i] = m.b)
                   AS dropped
        FROM b{k - 1} w, (SELECT unnest(range(1, 65)) AS i) t, m{k} m
        WHERE t.i <= len(w.s)
    ) WHERE NOT dropped GROUP BY word
)""")
    return ",\n".join(parts)


_BPE64_ROUNDS = 64

_Q227_ORACLE = f"""
WITH {_bpe_oracle_words_cte("t", "TRUE")},
{_bpe_oracle_train_ctes(_BPE64_ROUNDS)}
{" UNION ALL ".join(
    f"SELECT {k} AS step, a AS left, b AS right, "
    f"CAST(cnt AS BIGINT) AS cnt FROM m{k}"
    for k in range(1, _BPE64_ROUNDS + 1)
)}
"""


@query("q227_bpe_train64", _Q227_ORACLE)
def q227_bpe_train64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge training at a REALISTIC rule count — 64 rounds
    (functions/text.py::bpe_merges, the checkpointed-loop discipline:
    lazy localCheckpoint per round so round N touches only the
    materialized |vocab| rows, winner collected one bounded row per
    round, fuse as a pure-literal codegen array pass). q195 pins the
    3-round prefix against a handwritten oracle; this query proves the
    loop survives the scale a real tokenizer needs — the 64-round
    oracle is GENERATED SQL (the same per-round arithmetic emitted by
    a loop, every CTE materialized), so the unrolled-oracle discipline
    extends to merge counts where handwriting is impossible. Training
    cost at any corpus scale: 64 combinable pair aggregates over the
    distinct-word table — corpus size enters once, through the word
    frequency aggregation."""
    from ..functions.text import bpe_merges

    d = _t(spark, sf_dir, "documents")
    _bpe_assert_max_word_len(d)
    return bpe_merges(d, "text", rounds=_BPE64_ROUNDS)


_Q228_ORACLE = f"""
WITH {_bpe_oracle_words_cte("t", "doc_id % 3 < 2")},
{_bpe_oracle_train_ctes(_BPE64_ROUNDS)},
{_bpe_oracle_words_cte("b", "doc_id % 3 = 2", with_freq=False)},
{_bpe_oracle_apply_ctes(_BPE64_ROUNDS)},
enc AS (SELECT word, len(s) AS n_sub FROM b{_BPE64_ROUNDS}),
dw AS (
    SELECT doc_id, w FROM (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
        FROM documents WHERE trim(text) <> '' AND doc_id % 3 = 2
    ) WHERE w <> ''
)
SELECT d.doc_id, count(*) AS n_words,
       CAST(sum(e.n_sub) AS BIGINT) AS n_bpe_tokens
FROM dw d JOIN enc e ON d.w = e.word
GROUP BY d.doc_id
"""


@query("q228_bpe_apply64", _Q228_ORACLE)
def q228_bpe_apply64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FROZEN-tokenizer encoding at a REALISTIC rule count — train 64
    merges on the doc_id%3<2 vintage, persist
    (operators/bpe_state.py), encode the %3=2 vintage under the frozen
    rules, roll up per document. q218 pins the 2-rule contract; this
    proves the literal-fuse APPLY path at the merge counts a deployed
    tokenizer actually has: 64 chained literal fuses, the chain cut by
    a lazy localCheckpoint every 8 rules (an uncut chain is a
    ~200-level expression tree — analysis/codegen blowup), so every
    compiled projection is 8 rules over |batch vocabulary|
    materialized rows. The oracle restates training AND the frozen
    apply chain as generated SQL — the persisted round-trip provably
    changes nothing at 64 rules."""
    from ..operators.bpe_state import apply_bpe_state, build_bpe_state

    d = _t(spark, sf_dir, "documents")
    _bpe_assert_max_word_len(d)
    b_train = d.where(F.pmod("doc_id", F.lit(3)) < 2)
    b_new = d.where(F.pmod("doc_id", F.lit(3)) == 2)
    work = tempfile.mkdtemp(prefix="ehs_bpe64_")
    build_bpe_state(b_train, work, "text", rounds=_BPE64_ROUNDS)
    enc = apply_bpe_state(b_new, work, "text")
    dw = (
        b_new.where(F.trim("text") != "")
        .select(
            "doc_id",
            F.explode(
                F.split(F.trim(F.lower("text")), r"\s+")
            ).alias("w"),
        )
        .where(F.col("w") != "")
    )
    return (
        dw.join(enc, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_sub").cast("long").alias("n_bpe_tokens"),
        )
    )


@query(
    "q229_ivfpq_recall",
    """
    WITH bf AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(
                       q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                       c.vec_id ASC
               ) AS rank,
               round(list_cosine_similarity(
                   q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 4) AS sim
        FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        WHERE q.vec_id % 20 = 10
    )
    SELECT count(DISTINCT query_id) AS n_queries,
           CAST(count(*) FILTER (rank <= 5) AS BIGINT) AS n_truth,
           CAST(round(CAST(avg(sim) FILTER (rank = 1)
                AS DECIMAL(30,10)), 4) AS DOUBLE) AS avg_top1_sim,
           true AS recall_ok
    FROM bf
    """,
)
def q229_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED production ANN shape — IVF x PQ (functions/
    ivfpq.py, the FAISS IVFADC layout): codes partitioned by list_id,
    a probe that prunes unprobed list directories before reading a
    byte, ADC scoring over the surviving codes (m literal-table
    lookups per row; the float payload is not stored in the index),
    and an exact re-rank of the ADC shortlist through a broadcast
    semi-join on the row store (refine_factor=10 — quantization error
    costs shortlist recall only, never final ordering). Gated exactly
    like q140/q33: exact brute-force truth hash-verified by the
    oracle, recall@5 >= 0.8 pinned in-plan (measured 0.88 on the
    synthetic corpus — deliberately unclustered embeddings are PQ's
    worst case). The index is built once per (session, sf_dir); the
    timed query is the probe, matching the deployment's
    build-once/probe-many economics."""
    from ..functions.ivfpq import query_ivfpq_index

    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") % 20 == 10)
    idx_dir = ivfpq_index_cached(spark, sf_dir)
    approx = query_ivfpq_index(
        spark, idx_dir, q, k=5, nprobe=12, refine=e, refine_factor=10
    ).select("query_id", "neighbor_id")
    bf = brute_force_topk(q, e, k=5)
    return _recall_gate(bf, approx)


@query(
    "q230_chi2_vs_state",
    """
    WITH a AS (
        SELECT source AS category, CAST(count(*) AS BIGINT) AS cnt_a
        FROM documents WHERE doc_id % 3 < 2 GROUP BY source
    ), b AS (
        SELECT source AS category, CAST(count(*) AS BIGINT) AS cnt_b
        FROM documents WHERE doc_id % 3 = 2 GROUP BY source
    ), j AS (
        SELECT coalesce(a.category, b.category) AS category,
               coalesce(cnt_a, 0) AS cnt_a, coalesce(cnt_b, 0) AS cnt_b
        FROM a FULL JOIN b ON a.category IS NOT DISTINCT FROM b.category
    ), tot AS (
        SELECT CAST(sum(cnt_a) AS BIGINT) AS na,
               CAST(sum(cnt_b) AS BIGINT) AS nb
        FROM j
    ), cells AS (
        SELECT category, cnt_a, cnt_b,
               CAST(round(CAST(
                   (cnt_a - CAST(na AS DOUBLE) * (cnt_a + cnt_b)
                        / CAST(na + nb AS DOUBLE))
                 * (cnt_a - CAST(na AS DOUBLE) * (cnt_a + cnt_b)
                        / CAST(na + nb AS DOUBLE))
                 / (CAST(na AS DOUBLE) * (cnt_a + cnt_b)
                        / CAST(na + nb AS DOUBLE))
                 + (cnt_b - CAST(nb AS DOUBLE) * (cnt_a + cnt_b)
                        / CAST(na + nb AS DOUBLE))
                 * (cnt_b - CAST(nb AS DOUBLE) * (cnt_a + cnt_b)
                        / CAST(na + nb AS DOUBLE))
                 / (CAST(nb AS DOUBLE) * (cnt_a + cnt_b)
                        / CAST(na + nb AS DOUBLE))
               AS DECIMAL(30,10)), 6) AS DOUBLE) AS chi2_cell
        FROM j, tot
    )
    SELECT category, cnt_a, cnt_b, chi2_cell,
           CAST(round(sum(CAST(chi2_cell AS DECIMAL(30,10))) OVER (), 6)
                AS DOUBLE) AS chi2_total
    FROM cells
    """,
)
def q230_chi2_vs_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CATEGORICAL drift against persisted state (operators/
    drift_state.py::category_counts_incremental + chi2_against_state)
    — the admission gate a curation loop runs on its source/language/
    license mixes before folding a vintage in, beside the numeric
    PSI/KS gates (q206). Two applies fold the %3=0 and %3=1 vintages
    into the versioned category state (exact integer counts merge by
    addition — accumulated state == one-shot count of the union); the
    %3=2 candidate then scores a 2 x C chi-square against the
    accumulated counts, per-cell terms 6dp-rounded and decimal-summed
    (partitioning-independent total). The monitored column rides in
    the state rows, so a mis-pointed apply fails loudly. The oracle
    restates the full contingency arithmetic from the raw table."""
    from ..operators.dedup_state import prune_state_versions
    from ..operators.drift_state import (
        category_counts_incremental,
        chi2_against_state,
    )

    d = _t(spark, sf_dir, "documents")
    work = tempfile.mkdtemp(prefix="ehs_cat_state_")
    category_counts_incremental(
        d.where(F.pmod("doc_id", F.lit(3)) == 0), work, 0, "source"
    )
    category_counts_incremental(
        d.where(F.pmod("doc_id", F.lit(3)) == 1), work, 1, "source"
    )
    prune_state_versions(work, "cats", keep=1)
    return chi2_against_state(
        d.where(F.pmod("doc_id", F.lit(3)) == 2), work, 2
    )


@query(
    "q231_quarantine_accounting",
    """
    WITH src AS (
        SELECT event_id,
               CASE WHEN event_id % 89 = 0 THEN 'x' || event_id
                    ELSE CAST(event_id % 100 AS VARCHAR) END AS code,
               value
        FROM events
    ), rej AS (SELECT * FROM src WHERE event_id % 89 = 0)
    SELECT 'cannot cast code to int' AS reason,
           CAST(count(*) AS BIGINT) AS n_rejects,
           CAST(sum(event_id) AS BIGINT) AS id_checksum,
           (SELECT CAST(count(*) AS BIGINT) FROM src) AS processed,
           CAST(count(*) AS BIGINT) AS failed
    FROM rej
    """,
)
def q231_quarantine_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END reject accounting through the on_error quarantine
    path (reference on_error contract, etlhelper etl.py:305-320;
    distributed here as operators/jdbc_sink.py::annotate_rows — pure
    JVM casts + boolean algebra, no UDF, no shuffle): a copy_rows load
    with PLANTED constraint violations (event_id % 89 == 0 rows carry
    a non-numeric code against the target's int column) must (a)
    dead-letter exactly those rows to on_error as FailedRow pairs, (b)
    report processed INCLUDING the failed rows (the reference's
    processed-includes-failed contract, etl.py:233-339), and (c) land
    only the valid rows in the destination. The returned frame is the
    reject ledger a production load writes: per-reason count, an id
    checksum over the dead-lettered rows, and the (processed, failed)
    totals — all restated by the oracle from the planted predicate."""
    from collections import defaultdict

    from ..connect import connect_files
    from ..functions.util import literal_frame
    from ..operators import copy_rows

    src = connect_files(sf_dir, spark=spark)
    dest_dir = tempfile.mkdtemp(prefix="ehs_quar_")
    dest = connect_files(dest_dir, spark=spark)
    seed = spark.createDataFrame(
        [], "event_id long, code int, value double"
    )
    dest.write_dataframe(seed, "sink")  # typed target to validate against
    rejects = []
    processed, failed = copy_rows(
        "SELECT event_id, "
        "CASE WHEN event_id % 89 = 0 THEN concat('x', event_id) "
        "ELSE CAST(event_id % 100 AS STRING) END AS code, value "
        "FROM events",
        src,
        "INSERT INTO sink (event_id, code, value) VALUES (?, ?, ?)",
        dest,
        on_error=rejects.extend,
    )
    by_reason: dict[str, list[int]] = defaultdict(list)
    for fr in rejects:
        by_reason[str(fr.exception)].append(int(fr.row["event_id"]))
    rows = [
        (reason, len(ids), sum(ids), processed, failed)
        for reason, ids in sorted(by_reason.items())
    ]
    return literal_frame(
        spark,
        rows,
        "reason string, n_rejects long, id_checksum long, "
        "processed long, failed long",
    )


@query(
    "q232_lsh_bucket_guard",
    """
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000 AS doc_id,
               'mass duplicate body planted for the guard' AS text
        FROM documents
    ), toks AS (
        SELECT doc_id AS id,
               regexp_split_to_array(trim(lower(text)), '\\s+') AS t
        FROM corpus
    ), sh AS (
        SELECT DISTINCT id, shingle FROM (
            SELECT id, array_to_string(t[i:i+2], ' ') AS shingle
            FROM (SELECT id, t, unnest(range(1, len(t)-1)) AS i FROM toks)
        ) WHERE shingle <> ''
    ), sigs AS (
        SELECT id, seed,
               min((((2654435761 * (seed+1)) % 2147483647)
                      * (CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT) % 2147483647)
                    + (40503 * (seed*seed+1)) % 2147483647) % 2147483647) AS minhash
        FROM sh, (SELECT unnest(range(0, 16)) AS seed)
        GROUP BY id, seed
    ), bands AS (
        SELECT id, seed // 4 AS band,
               md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY seed))
                   AS band_key
        FROM sigs GROUP BY id, seed // 4
    ), keep AS (
        SELECT id, band, band_key FROM (
            SELECT id, band, band_key,
                   count(*) OVER (PARTITION BY band, band_key) AS n
            FROM bands
        ) WHERE n <= 32
    )
    SELECT DISTINCT a.id AS id_a, b.id AS id_b
    FROM keep a JOIN keep b
      ON a.band = b.band AND a.band_key = b.band_key AND a.id < b.id
    """,
)
def q232_lsh_bucket_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH MASS-DUPLICATION guard under the oracle gate: the
    corpus is doubled with a byte-identical planted body (every
    planted doc shares every band bucket, so uncapped banding would
    emit a |corpus|²-scale pair set — at 30% duplication of a real
    crawl that join is output-quadratic no matter how it executes),
    and minhash_lsh_candidates(max_bucket=32) must skip exactly the
    oversized buckets: one combinable count over band keys + an
    AQE-sized anti-join (bounded by n*bands/cap keys). Oversized
    buckets are exact-duplicate clusters the O(n) exact tier already
    collapses (q23/q37) — production dedups exact FIRST and reserves
    LSH for the fuzzy tail; the cap makes that ordering enforceable
    instead of aspirational. The oracle restates banding AND the
    bucket-size filter; SCALE_PROBE.md measures the guard holding at
    1M docs with 30% planted duplication."""
    d = _t(spark, sf_dir, "documents")
    planted = d.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.lit("mass duplicate body planted for the guard").alias("text"),
    )
    corpus = d.select("doc_id", "text").unionByName(planted)
    return minhash_lsh_candidates(
        corpus,
        "doc_id",
        "text",
        num_hashes=16,
        bands=4,
        shingle_size=3,
        max_bucket=32,
    )


@query(
    "q233_embedding_drift",
    """
    WITH dims AS (SELECT unnest(range(1, 65)) AS pos),
    a AS (
        SELECT d.pos,
               CAST(round(CAST(
                   CAST(sum(CAST(e.embedding[d.pos] AS DECIMAL(30,10)))
                        AS DOUBLE) / count(*)
               AS DECIMAL(30,10)), 6) AS DOUBLE) AS mean_a
        FROM embeddings e, dims d WHERE e.vec_id % 3 < 2
        GROUP BY d.pos
    ), b AS (
        SELECT d.pos,
               CAST(round(CAST(
                   CAST(sum(CAST(e.embedding[d.pos] AS DECIMAL(30,10)))
                        AS DOUBLE) / count(*)
               AS DECIMAL(30,10)), 6) AS DOUBLE) AS mean_b
        FROM embeddings e, dims d WHERE e.vec_id % 3 = 2
        GROUP BY d.pos
    ), j AS (SELECT pos, mean_a, mean_b FROM a JOIN b USING (pos)),
    tot AS (
        SELECT CAST(sum(CAST(mean_a * mean_b AS DECIMAL(30,10)))
                    AS DOUBLE) AS dot,
               CAST(sum(CAST(mean_a * mean_a AS DECIMAL(30,10)))
                    AS DOUBLE) AS na2,
               CAST(sum(CAST(mean_b * mean_b AS DECIMAL(30,10)))
                    AS DOUBLE) AS nb2
        FROM j
    )
    SELECT pos, mean_a, mean_b,
           CAST(round(CAST(mean_b - mean_a AS DECIMAL(30,10)), 6)
                AS DOUBLE) AS shift,
           CAST(round(CAST(dot / (sqrt(na2) * sqrt(nb2))
                AS DECIMAL(30,10)), 4) AS DOUBLE) AS centroid_cos
    FROM j, tot
    """,
)
def q233_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMBEDDING drift against persisted state (operators/
    drift_state.py::embedding_moments_incremental +
    embedding_drift_against_state) — the third drift modality beside
    numeric PSI/KS (q206) and categorical chi-square (q230): an
    encoder swap, scraper shift, or domain-mix move walks the corpus
    CENTROID before any downstream metric notices. Two applies fold
    the %3=0 and %3=1 vintages into per-dimension exact-decimal first
    moments (component sums accumulate as DECIMAL — order- and
    partitioning-independent, so sequential applies equal one-shot
    moments bit-for-bit); the %3=2 candidate then reports per-dim mean
    shift plus the cosine between the two centroid vectors. All
    post-scan work is O(dim). The oracle restates the decimal-sum
    means and the cosine arithmetic from the raw table."""
    from ..operators.dedup_state import prune_state_versions
    from ..operators.drift_state import (
        embedding_drift_against_state,
        embedding_moments_incremental,
    )

    e = _t(spark, sf_dir, "embeddings")
    work = tempfile.mkdtemp(prefix="ehs_emb_state_")
    embedding_moments_incremental(
        e.where(F.pmod("vec_id", F.lit(3)) == 0), work, 0
    )
    embedding_moments_incremental(
        e.where(F.pmod("vec_id", F.lit(3)) == 1), work, 1
    )
    prune_state_versions(work, "emb", keep=1)
    return embedding_drift_against_state(
        e.where(F.pmod("vec_id", F.lit(3)) == 2), work, 2
    )


@query(
    "q234_ivfpq_append",
    """
    WITH dims AS (SELECT unnest(range(1, 17)) AS pos),
    subs AS (SELECT unnest(range(0, 4)) AS sub),
    base AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 3 < 2),
    c0 AS (
        SELECT s.sub,
               row_number() OVER (PARTITION BY s.sub ORDER BY e.vec_id)
                   - 1 AS code,
               list_transform(
                   e.embedding[s.sub*16+1 : s.sub*16+16]::DOUBLE[],
                   x -> CAST(round(CAST(x AS DECIMAL(30,10)), 6) AS DOUBLE)
               ) AS centroid
        FROM (SELECT * FROM base ORDER BY vec_id LIMIT 8) e, subs s
    ), a1 AS (
        SELECT vec_id, sub, code FROM (
            SELECT e.vec_id, c.sub, c.code,
                   row_number() OVER (
                       PARTITION BY e.vec_id, c.sub
                       ORDER BY list_cosine_similarity(
                           e.embedding[c.sub*16+1 : c.sub*16+16]::DOUBLE[],
                           c.centroid) DESC, c.code ASC
                   ) AS rn
            FROM base e, c0 c
        ) WHERE rn = 1
    ), c1 AS (
        SELECT sub, code, list(rv ORDER BY pos) AS centroid FROM (
            SELECT a.sub, a.code, d.pos,
                   CAST(round(CAST(avg(e.embedding[a.sub*16 + d.pos])
                        AS DECIMAL(30,10)), 6) AS DOUBLE) AS rv
            FROM a1 a JOIN base e USING (vec_id), dims d
            GROUP BY a.sub, a.code, d.pos
        ) GROUP BY sub, code
    ), enc AS (
        SELECT vec_id,
               max(CASE WHEN sub = 0 THEN code END) AS k0,
               max(CASE WHEN sub = 1 THEN code END) AS k1,
               max(CASE WHEN sub = 2 THEN code END) AS k2,
               max(CASE WHEN sub = 3 THEN code END) AS k3
        FROM (
            SELECT vec_id, sub, code FROM (
                SELECT e.vec_id, c.sub, c.code,
                       row_number() OVER (
                           PARTITION BY e.vec_id, c.sub
                           ORDER BY list_cosine_similarity(
                               e.embedding[c.sub*16+1 : c.sub*16+16]::DOUBLE[],
                               c.centroid) DESC, c.code ASC
                       ) AS rn
                FROM embeddings e, c1 c
            ) WHERE rn = 1
        ) GROUP BY vec_id
    ), p AS (
        SELECT vec_id AS list_id, embedding::DOUBLE[] AS pivot
        FROM base ORDER BY vec_id LIMIT 8
    ), coarse AS (
        SELECT vec_id, list_id FROM (
            SELECT e.vec_id, p.list_id,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_cosine_similarity(
                           e.embedding::DOUBLE[], p.pivot) DESC,
                           p.list_id ASC
                   ) AS rn
            FROM embeddings e, p
        ) WHERE rn = 1
    )
    SELECT enc.vec_id, coarse.list_id, k0, k1, k2, k3
    FROM enc JOIN coarse USING (vec_id)
    """,
)
def q234_ivfpq_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ index APPEND under the oracle gate (functions/ivfpq.py::
    build_ivfpq_index / append_ivfpq_index) — both halves' frozen-
    artifact contracts composed and restated from scratch: pivots AND
    codebooks train on the %3<2 vintage only; the %3>=2 batch encodes
    against the FROZEN artifacts and lands as ingest batch 1's own
    (list_id, ingest_batch) cells (one linear scan, zero shuffle,
    O(batch) write of m-byte codes). The result read back must equal the oracle's
    union encode — q198's codebook chain plus q180's coarse
    assignment, so any drift in either half's append path (stale
    pivots, wrong codebooks, missed/doubled rows) breaks the hash.
    Probe-level equality is additionally pinned in tests/
    test_ivfpq.py."""
    from ..functions.ivfpq import append_ivfpq_index, build_ivfpq_index

    e = _t(spark, sf_dir, "embeddings")
    work = tempfile.mkdtemp(prefix="ehs_ivfpq_app_")
    b0 = e.where(F.pmod("vec_id", F.lit(3)) < 2)
    b1 = e.where(F.pmod("vec_id", F.lit(3)) >= 2)
    build_ivfpq_index(b0, work, nlist=8, m_sub=4, k_codes=8, iterations=2)
    append_ivfpq_index(b1, work, batch_id=1)
    idx = read_parquet_state(spark, work)
    return idx.select(
        "vec_id",
        F.col("list_id").cast("long").alias("list_id"),
        F.col("codes")[0].alias("k0"),
        F.col("codes")[1].alias("k1"),
        F.col("codes")[2].alias("k2"),
        F.col("codes")[3].alias("k3"),
    )


def _chi2_total_sql(batch: int, where_a: str, where_b: str) -> str:
    """One-row (batch, n_rows, chi2_total) restating chi2_report's
    2 x C arithmetic between two document vintages — the per-gate
    building block of the streaming admission-gate oracle (q235),
    mirroring q230's cell arithmetic exactly."""
    return f"""
    SELECT {batch} AS batch,
           (SELECT CAST(count(*) AS BIGINT) FROM documents
            WHERE {where_b}) AS n_rows,
           CAST(round(sum(CAST(chi2_cell AS DECIMAL(30,10))), 6)
                AS DOUBLE) AS chi2_total
    FROM (
        SELECT CAST(round(CAST(
                   (cnt_a - CAST(na AS DOUBLE) * (cnt_a + cnt_b)
                        / CAST(na + nb AS DOUBLE))
                 * (cnt_a - CAST(na AS DOUBLE) * (cnt_a + cnt_b)
                        / CAST(na + nb AS DOUBLE))
                 / (CAST(na AS DOUBLE) * (cnt_a + cnt_b)
                        / CAST(na + nb AS DOUBLE))
                 + (cnt_b - CAST(nb AS DOUBLE) * (cnt_a + cnt_b)
                        / CAST(na + nb AS DOUBLE))
                 * (cnt_b - CAST(nb AS DOUBLE) * (cnt_a + cnt_b)
                        / CAST(na + nb AS DOUBLE))
                 / (CAST(nb AS DOUBLE) * (cnt_a + cnt_b)
                        / CAST(na + nb AS DOUBLE))
               AS DECIMAL(30,10)), 6) AS DOUBLE) AS chi2_cell
        FROM (
            SELECT coalesce(a.category, b.category) AS category,
                   coalesce(cnt_a, 0) AS cnt_a,
                   coalesce(cnt_b, 0) AS cnt_b
            FROM (
                SELECT source AS category,
                       CAST(count(*) AS BIGINT) AS cnt_a
                FROM documents WHERE {where_a} GROUP BY source
            ) a FULL JOIN (
                SELECT source AS category,
                       CAST(count(*) AS BIGINT) AS cnt_b
                FROM documents WHERE {where_b} GROUP BY source
            ) b ON a.category IS NOT DISTINCT FROM b.category
        ) j, (
            SELECT CAST(sum(CASE WHEN {where_a} THEN 1 ELSE 0 END)
                        AS BIGINT) AS na,
                   CAST(sum(CASE WHEN {where_b} THEN 1 ELSE 0 END)
                        AS BIGINT) AS nb
            FROM documents
        ) tot
    )
    """


@query(
    "q235_stream_category_gate",
    _chi2_total_sql(1, "doc_id % 3 = 0", "doc_id % 3 = 1")
    + " UNION ALL "
    + _chi2_total_sql(2, "doc_id % 3 < 2", "doc_id % 3 = 2"),
)
def q235_stream_category_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING categorical admission gate (operators/drift_state.py
    ::streaming_category_gate) — the chi-square drift gate run inside
    the micro-batch loop against the MOVING accumulated state: three
    file-batches of documents arrive in pinned modification-time order
    (q181's feed construction); batch 0 folds in silently (nothing to
    gate against), batch 1 scores against batch 0's counts, batch 2
    against batches 0+1's — each verdict written BEFORE the batch
    merges, so a post-hoc audit of 'which vintage moved the source
    mix' reads straight off the ledger. Micro-batch id = state batch
    id: replays overwrite their own verdict and state version
    (idempotent under at-least-once). The oracle restates both gates'
    full 2 x C contingency arithmetic from the raw table."""
    import glob as _glob
    import time

    from ..operators.drift_state import streaming_category_gate

    configure_session(spark)
    work = tempfile.mkdtemp(prefix="ehs_catgate_")
    feed = os.path.join(work, "feed")
    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    parts_seen: set = set()
    t0 = time.time() - 1000
    for i in range(3):
        d.where(F.pmod("doc_id", F.lit(3)) == i).coalesce(1).write.mode(
            "append" if i else "overwrite"
        ).parquet(feed)
        new = set(_glob.glob(os.path.join(feed, "part-*"))) - parts_seen
        for p in new:
            os.utime(p, (t0 + 100 * i, t0 + 100 * i))
        parts_seen |= new
    stream = (
        spark.readStream.schema(d.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    streaming_category_gate(
        stream,
        os.path.join(work, "state"),
        os.path.join(work, "ckpt"),
        os.path.join(work, "gates"),
        "source",
    )
    return read_parquet_state(spark, os.path.join(work, "gates")).select(
        F.col("batch").cast("long").alias("batch"),
        "n_rows",
        "chi2_total",
    )


@query(
    "q236_lsh_tuning",
    """
    WITH geoms AS (
        SELECT b AS bands, 16 // b AS rows_per_band
        FROM (SELECT unnest(range(1, 17)) AS b) WHERE 16 % b = 0
    ), pts AS (
        SELECT (unnest(range(0, 200)) + 0.5) / 200.0 AS s
    ), terms AS (
        SELECT bands, rows_per_band,
               CAST(round(CAST(CASE WHEN s < 0.5 THEN
                   (1.0 - power(1.0 - power(s, rows_per_band), bands))
                       / 200.0
                   ELSE 0.0 END AS DECIMAL(30,10)), 6)
                   AS DECIMAL(30,10)) AS fp_term,
               CAST(round(CAST(CASE WHEN s >= 0.5 THEN
                   power(1.0 - power(s, rows_per_band), bands) / 200.0
                   ELSE 0.0 END AS DECIMAL(30,10)), 6)
                   AS DECIMAL(30,10)) AS fn_term
        FROM geoms, pts
    ), agg AS (
        SELECT bands, rows_per_band,
               CAST(round(sum(fp_term), 6) AS DOUBLE) AS fp_area,
               CAST(round(sum(fn_term), 6) AS DOUBLE) AS fn_area
        FROM terms GROUP BY 1, 2
    ), tot AS (
        SELECT bands, rows_per_band, fp_area, fn_area,
               CAST(round(CAST(fp_area + fn_area AS DECIMAL(30,10)), 6)
                    AS DOUBLE) AS total_err
        FROM agg
    )
    SELECT bands, rows_per_band, fp_area, fn_area, total_err,
           total_err = min(total_err) OVER () AS best
    FROM tot
    """,
)
def q236_lsh_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding parameter TUNER (functions/dedup.py::lsh_tuning) —
    the design math behind every banding call, verifiable as a plan:
    for each clean geometry of 16 minhashes (b bands of r rows,
    b | 16) the S-curve 1-(1-s^r)^b integrates on a 200-point midpoint
    grid into false-positive area below the 0.5 threshold (candidates
    you verify and discard) and false-negative area above it
    (near-duplicates banding MISSES — the unrecoverable side); `best`
    marks the minimum-total-error geometry. q29/q177's b=4, r=4 choice
    comes from exactly this curve. Per-term 6dp decimal rounding makes
    the integrals partitioning-independent; the oracle restates the
    full integration."""
    from ..functions.dedup import lsh_tuning

    return lsh_tuning(spark, threshold=0.5, num_hashes=16, grid=200)


@query(
    "q237_logit_calibration",
    """
    WITH feat AS (
        SELECT n_chars / 100.0 AS x1,
               (doc_id % 10) / 10.0 AS x2,
               CAST(lang = 'en' AS INT) AS y
        FROM documents
    ), r1 AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               sum(CAST(0.5 - y AS DECIMAL(30,10))) AS gb,
               sum(CAST((0.5 - y) * x1 AS DECIMAL(30,10))) AS g1,
               sum(CAST((0.5 - y) * x2 AS DECIMAL(30,10))) AS g2
        FROM feat
    ), p1 AS (
        SELECT n,
               CAST(round(CAST(0.0 - ((0.5 * CAST(gb AS DOUBLE)) / n)
                    AS DECIMAL(30,10)), 6) AS DOUBLE) AS b1,
               CAST(round(CAST(0.0 - ((0.5 * CAST(g1 AS DOUBLE)) / n)
                    AS DECIMAL(30,10)), 6) AS DOUBLE) AS w11,
               CAST(round(CAST(0.0 - ((0.5 * CAST(g2 AS DOUBLE)) / n)
                    AS DECIMAL(30,10)), 6) AS DOUBLE) AS w12
        FROM r1
    ), r2 AS (
        SELECT sum(CAST(
                   (1.0 / (1.0 + exp(-(b1 + w11 * x1 + w12 * x2))) - y)
                   AS DECIMAL(30,10))) AS gb,
               sum(CAST(
                   ((1.0 / (1.0 + exp(-(b1 + w11 * x1 + w12 * x2))) - y)
                    * x1) AS DECIMAL(30,10))) AS g1,
               sum(CAST(
                   ((1.0 / (1.0 + exp(-(b1 + w11 * x1 + w12 * x2))) - y)
                    * x2) AS DECIMAL(30,10))) AS g2
        FROM feat, p1
    )
    SELECT '__bias__' AS term,
           CAST(round(CAST(b1 - ((0.5 * CAST(gb AS DOUBLE)) / n)
                AS DECIMAL(30,10)), 6) AS DOUBLE) AS weight
    FROM r2, p1
    UNION ALL
    SELECT 'x1',
           CAST(round(CAST(w11 - ((0.5 * CAST(g1 AS DOUBLE)) / n)
                AS DECIMAL(30,10)), 6) AS DOUBLE)
    FROM r2, p1
    UNION ALL
    SELECT 'x2',
           CAST(round(CAST(w12 - ((0.5 * CAST(g2 AS DOUBLE)) / n)
                AS DECIMAL(30,10)), 6) AS DOUBLE)
    FROM r2, p1
    """,
)
def q237_logit_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUPERVISED quality-classifier calibration trained IN-ENGINE
    (functions/calibrate.py::logit_train) — distributed full-batch
    logistic regression, 2 GD rounds from zero weights on (scaled
    doc length, a deliberately-uninformative control feature) against
    the lang='en' label: the step that turns the suite's fixed-weight
    scorers (q153) into learned ones without the corpus leaving the
    engine. Every gradient component is ONE combinable aggregate per
    round with per-row terms rounded to exact decimals before the sum
    (partitioning cannot move a bit); weight updates go through the
    _round6_py bit-mirror, so the oracle — the identical two rounds
    unrolled in SQL — reproduces every weight bit-for-bit (the q141
    unrolled-Lloyd discipline applied to an optimizer)."""
    from ..functions.calibrate import logit_train

    d = _t(spark, sf_dir, "documents").select(
        (F.col("n_chars") / 100.0).alias("x1"),
        (F.pmod("doc_id", F.lit(10)) / 10.0).alias("x2"),
        (F.col("lang") == "en").cast("int").alias("y"),
    )
    return logit_train(d, ["x1", "x2"], "y", rounds=2, lr=0.5)


@query(
    "q238_filtered_ann",
    """
    WITH c AS (
        SELECT vec_id, embedding, vec_id % 5 AS cat FROM embeddings
    ), bf AS (
        SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(
                       q.embedding::DOUBLE[], x.embedding::DOUBLE[]) DESC,
                       x.vec_id ASC
               ) AS rank,
               round(list_cosine_similarity(
                   q.embedding::DOUBLE[], x.embedding::DOUBLE[]), 4) AS sim
        FROM c q JOIN c x ON q.vec_id <> x.vec_id AND x.cat = 2
        WHERE q.vec_id % 20 = 10
    )
    SELECT count(DISTINCT query_id) AS n_queries,
           CAST(count(*) FILTER (rank <= 5) AS BIGINT) AS n_truth,
           CAST(round(CAST(avg(sim) FILTER (rank = 1)
                AS DECIMAL(30,10)), 4) AS DOUBLE) AS avg_top1_sim,
           true AS recall_ok
    FROM bf
    """,
)
def q238_filtered_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search — 'top-k nearest WHERE category = 2',
    the workload shape most production ANN queries actually have
    (language/license/source constraints): the IVF index is built
    COVERING (functions/ann_index.py::build_ivf_index attr_cols), so
    the attribute predicate pushes into the already-pruned parquet
    scan (PushedFilters — plan-asserted in tests/test_ann_index.py)
    instead of joining back to the row store; only matching rows of
    probed lists are ever read. Gated like q140: exact FILTERED brute
    force hash-verified by the oracle, recall@5 >= 0.8 pinned in-plan
    (the filter keeps ~1/5 of each probed list, so nprobe=12 of 16
    carries the recall)."""
    from ..functions.ann_index import build_ivf_index, query_ivf_index

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", F.pmod("vec_id", F.lit(5)).alias("cat")
    )
    q = e.where(F.col("vec_id") % 20 == 10)
    work = tempfile.mkdtemp(prefix="ehs_ivf_filt_")
    build_ivf_index(e, work, nlist=16, attr_cols=["cat"])
    approx = query_ivf_index(
        spark, work, q, k=5, nprobe=12, attr_filter=F.col("cat") == 2
    ).select("query_id", "neighbor_id")
    bf = brute_force_topk(q, e.where(F.col("cat") == 2), k=5)
    return _recall_gate(bf, approx)


@query(
    "q239_forget_state",
    _DOUBLED_DOCS
    + """
    , fp AS (
        SELECT doc_id, doc_id % 3 AS b,
               md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
                   AS fingerprint
        FROM all_docs
    ), hist AS (SELECT * FROM fp WHERE b < 2),
    hsurv AS (
        SELECT DISTINCT fingerprint,
               first_value(doc_id) OVER (
                   PARTITION BY fingerprint ORDER BY b, doc_id
               ) AS s
        FROM hist
    ), keep AS (SELECT fingerprint, s FROM hsurv WHERE s % 7 <> 0),
    b2 AS (SELECT doc_id, fingerprint FROM fp WHERE b = 2),
    loc AS (
        SELECT fingerprint, min(doc_id) AS local_s FROM b2
        GROUP BY fingerprint
    )
    SELECT d.doc_id AS id, d.fingerprint,
           coalesce(k.s, l.local_s) AS survivor_id,
           d.doc_id = coalesce(k.s, l.local_s) AS kept
    FROM b2 d
    LEFT JOIN keep k USING (fingerprint)
    JOIN loc l USING (fingerprint)
    """,
)
def q239_forget_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT-TO-BE-FORGOTTEN erasure from the dedup ledger
    (operators/dedup_state.py::forget_from_dedup_state) — the state
    maps content to its first-seen SURVIVOR, so deleting a document
    from the corpus must delete its state rows too, or dedup verdicts
    reference the erased document forever. Two applies build the
    fingerprint state over the doubled corpus's %3<2 batches; every
    survivor with id % 7 == 0 is then erased (as a DataFrame feed —
    anti-joined, never collected) through the crash-safe versioned
    base rewrite; batch %3=2 applies afterwards. The oracle restates
    the semantics end-to-end: duplicates of RETAINED content still
    dedup to the historical survivor, duplicates of FORGOTTEN content
    are re-admitted as new first-seen documents (the exemplar no
    longer exists to point at). Cost: one |distinct contents|-row
    state scan + rewrite — never the corpus."""
    from ..operators.dedup_state import (
        dedup_exact_incremental,
        forget_from_dedup_state,
    )

    work = tempfile.mkdtemp(prefix="ehs_forget_")
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    doubled = d.unionAll(
        d.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    )
    for i in range(2):
        dedup_exact_incremental(
            doubled.where(F.pmod("doc_id", F.lit(3)) == i), work, i
        )
    state = read_parquet_state(spark, os.path.join(work, "exact"))
    doomed = state.where(
        F.pmod("survivor_id", F.lit(7)) == 0
    ).select("survivor_id")
    forget_from_dedup_state(spark, work, doomed)
    return dedup_exact_incremental(
        doubled.where(F.pmod("doc_id", F.lit(3)) == 2), work, 2
    )


@query(
    "q240_stream_ivfpq_ingest",
    """
    WITH dims AS (SELECT unnest(range(1, 17)) AS pos),
    subs AS (SELECT unnest(range(0, 4)) AS sub),
    base AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 3 = 0),
    c0 AS (
        SELECT s.sub,
               row_number() OVER (PARTITION BY s.sub ORDER BY e.vec_id)
                   - 1 AS code,
               list_transform(
                   e.embedding[s.sub*16+1 : s.sub*16+16]::DOUBLE[],
                   x -> CAST(round(CAST(x AS DECIMAL(30,10)), 6) AS DOUBLE)
               ) AS centroid
        FROM (SELECT * FROM base ORDER BY vec_id LIMIT 8) e, subs s
    ), a1 AS (
        SELECT vec_id, sub, code FROM (
            SELECT e.vec_id, c.sub, c.code,
                   row_number() OVER (
                       PARTITION BY e.vec_id, c.sub
                       ORDER BY list_cosine_similarity(
                           e.embedding[c.sub*16+1 : c.sub*16+16]::DOUBLE[],
                           c.centroid) DESC, c.code ASC
                   ) AS rn
            FROM base e, c0 c
        ) WHERE rn = 1
    ), c1 AS (
        SELECT sub, code, list(rv ORDER BY pos) AS centroid FROM (
            SELECT a.sub, a.code, d.pos,
                   CAST(round(CAST(avg(e.embedding[a.sub*16 + d.pos])
                        AS DECIMAL(30,10)), 6) AS DOUBLE) AS rv
            FROM a1 a JOIN base e USING (vec_id), dims d
            GROUP BY a.sub, a.code, d.pos
        ) GROUP BY sub, code
    ), enc AS (
        SELECT vec_id,
               max(CASE WHEN sub = 0 THEN code END) AS k0,
               max(CASE WHEN sub = 1 THEN code END) AS k1,
               max(CASE WHEN sub = 2 THEN code END) AS k2,
               max(CASE WHEN sub = 3 THEN code END) AS k3
        FROM (
            SELECT vec_id, sub, code FROM (
                SELECT e.vec_id, c.sub, c.code,
                       row_number() OVER (
                           PARTITION BY e.vec_id, c.sub
                           ORDER BY list_cosine_similarity(
                               e.embedding[c.sub*16+1 : c.sub*16+16]::DOUBLE[],
                               c.centroid) DESC, c.code ASC
                       ) AS rn
                FROM embeddings e, c1 c
            ) WHERE rn = 1
        ) GROUP BY vec_id
    ), p AS (
        SELECT vec_id AS list_id, embedding::DOUBLE[] AS pivot
        FROM base ORDER BY vec_id LIMIT 8
    ), coarse AS (
        SELECT vec_id, list_id FROM (
            SELECT e.vec_id, p.list_id,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_cosine_similarity(
                           e.embedding::DOUBLE[], p.pivot) DESC,
                           p.list_id ASC
                   ) AS rn
            FROM embeddings e, p
        ) WHERE rn = 1
    )
    SELECT enc.vec_id, coarse.list_id,
           CAST(CASE WHEN enc.vec_id % 3 = 0 THEN 0
                     ELSE (enc.vec_id % 3) END AS BIGINT) AS ingest_batch,
           k0, k1, k2, k3
    FROM enc JOIN coarse USING (vec_id)
    """,
)
def q240_stream_ivfpq_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING ANN ingest with EXACTLY-ONCE semantics (functions/
    ivfpq.py::streaming_ivfpq_ingest) — continuously-arriving
    embeddings become searchable without rebuilds: the index builds
    on the %3=0 vintage (pivots + codebooks frozen,
    ingest_batch=0), then the %3=1 and %3=2 vintages arrive as two
    mtime-ordered files (q181's feed construction) and each
    availableNow micro-batch encodes against the frozen artifacts and
    lands under its own (list_id, ingest_batch) partition cells via
    dynamic partition overwrite — a redelivered micro-batch overwrites
    exactly its own rows (replay idempotence is pytest-pinned; the
    oracle pins content). Read back, the index must equal the
    from-scratch union encode with the batch lineage attached: q234's
    oracle plus the ingest_batch column derived from the residue that
    routed each vector. Probes are unaffected — list_id stays the
    leading partition key."""
    import glob as _glob
    import time

    from ..functions.ivfpq import build_ivfpq_index, streaming_ivfpq_ingest

    configure_session(spark)
    work = tempfile.mkdtemp(prefix="ehs_ivfpq_stream_")
    feed = os.path.join(work, "feed")
    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    build_ivfpq_index(
        e.where(F.pmod("vec_id", F.lit(3)) == 0),
        os.path.join(work, "idx"),
        nlist=8,
        m_sub=4,
        k_codes=8,
        iterations=2,
    )
    parts_seen: set = set()
    t0 = time.time() - 1000
    for i in (1, 2):
        e.where(F.pmod("vec_id", F.lit(3)) == i).coalesce(1).write.mode(
            "append" if i > 1 else "overwrite"
        ).parquet(feed)
        new = set(_glob.glob(os.path.join(feed, "part-*"))) - parts_seen
        for p in new:
            os.utime(p, (t0 + 100 * i, t0 + 100 * i))
        parts_seen |= new
    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    streaming_ivfpq_ingest(
        stream, os.path.join(work, "idx"), os.path.join(work, "ckpt")
    )
    idx = read_parquet_state(spark, os.path.join(work, "idx"))
    return idx.select(
        "vec_id",
        F.col("list_id").cast("long").alias("list_id"),
        F.col("ingest_batch").cast("long").alias("ingest_batch"),
        F.col("codes")[0].alias("k0"),
        F.col("codes")[1].alias("k1"),
        F.col("codes")[2].alias("k2"),
        F.col("codes")[3].alias("k3"),
    )


@query(
    "q241_ivfpq_compact",
    """
    WITH dims AS (SELECT unnest(range(1, 17)) AS pos),
    subs AS (SELECT unnest(range(0, 4)) AS sub),
    base AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 4 = 0),
    c0 AS (
        SELECT s.sub,
               row_number() OVER (PARTITION BY s.sub ORDER BY e.vec_id)
                   - 1 AS code,
               list_transform(
                   e.embedding[s.sub*16+1 : s.sub*16+16]::DOUBLE[],
                   x -> CAST(round(CAST(x AS DECIMAL(30,10)), 6) AS DOUBLE)
               ) AS centroid
        FROM (SELECT * FROM base ORDER BY vec_id LIMIT 8) e, subs s
    ), a1 AS (
        SELECT vec_id, sub, code FROM (
            SELECT e.vec_id, c.sub, c.code,
                   row_number() OVER (
                       PARTITION BY e.vec_id, c.sub
                       ORDER BY list_cosine_similarity(
                           e.embedding[c.sub*16+1 : c.sub*16+16]::DOUBLE[],
                           c.centroid) DESC, c.code ASC
                   ) AS rn
            FROM base e, c0 c
        ) WHERE rn = 1
    ), c1 AS (
        SELECT sub, code, list(rv ORDER BY pos) AS centroid FROM (
            SELECT a.sub, a.code, d.pos,
                   CAST(round(CAST(avg(e.embedding[a.sub*16 + d.pos])
                        AS DECIMAL(30,10)), 6) AS DOUBLE) AS rv
            FROM a1 a JOIN base e USING (vec_id), dims d
            GROUP BY a.sub, a.code, d.pos
        ) GROUP BY sub, code
    ), enc AS (
        SELECT vec_id,
               max(CASE WHEN sub = 0 THEN code END) AS k0,
               max(CASE WHEN sub = 1 THEN code END) AS k1,
               max(CASE WHEN sub = 2 THEN code END) AS k2,
               max(CASE WHEN sub = 3 THEN code END) AS k3
        FROM (
            SELECT vec_id, sub, code FROM (
                SELECT e.vec_id, c.sub, c.code,
                       row_number() OVER (
                           PARTITION BY e.vec_id, c.sub
                           ORDER BY list_cosine_similarity(
                               e.embedding[c.sub*16+1 : c.sub*16+16]::DOUBLE[],
                               c.centroid) DESC, c.code ASC
                       ) AS rn
                FROM embeddings e, c1 c
            ) WHERE rn = 1
        ) GROUP BY vec_id
    ), p AS (
        SELECT vec_id AS list_id, embedding::DOUBLE[] AS pivot
        FROM base ORDER BY vec_id LIMIT 8
    ), coarse AS (
        SELECT vec_id, list_id FROM (
            SELECT e.vec_id, p.list_id,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_cosine_similarity(
                           e.embedding::DOUBLE[], p.pivot) DESC,
                           p.list_id ASC
                   ) AS rn
            FROM embeddings e, p
        ) WHERE rn = 1
    )
    SELECT enc.vec_id, coarse.list_id, k0, k1, k2, k3,
           CAST(2 AS BIGINT) AS watermark
    FROM enc JOIN coarse USING (vec_id)
    """,
)
def q241_ivfpq_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WATERMARKED COMPACTION of the streaming IVFPQ ingest layout
    (functions/ivfpq.py::compact_ivfpq_ingest) — the maintenance pass
    that keeps a month of production micro-batches from burying the
    probe in small files: every availableNow batch adds one
    (list_id, ingest_batch) parquet cell per touched list, and at
    10^4-10^6 batches the directory listing + footer reads dominate
    probe latency. This query runs the full lifecycle: build versioned
    on the %4=0 vintage, stream-ingest the %4=1..3 vintages as THREE
    mtime-ordered micro-batches, fold batches <= 2 into a compacted
    ``_ibase_v1`` (crash-safe marker-LAST, dedup_state's discipline;
    the marker carries the watermark), then REPLAY folded batch 2 —
    which append_ivfpq_index must DROP (its rows already live in the
    base; the in-plan check fails loudly if any row lands). The
    effective read-back must hash-match the never-compacted oracle:
    the union encode over all four vintages, exactly q240's arithmetic
    minus the batch lineage the fold erases."""
    import glob as _glob
    import time

    from ..functions.ivfpq import (
        append_ivfpq_index,
        build_ivfpq_index,
        compact_ivfpq_ingest,
        ivfpq_ingest_watermark,
        read_ivfpq_rows,
        streaming_ivfpq_ingest,
    )

    configure_session(spark)
    work = tempfile.mkdtemp(prefix="ehs_ivfpq_compact_")
    feed = os.path.join(work, "feed")
    idx = os.path.join(work, "idx")
    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    build_ivfpq_index(
        e.where(F.pmod("vec_id", F.lit(4)) == 0),
        idx,
        nlist=8,
        m_sub=4,
        k_codes=8,
        iterations=2,
    )
    parts_seen: set = set()
    t0 = time.time() - 1000
    for i in (1, 2, 3):
        e.where(F.pmod("vec_id", F.lit(4)) == i).coalesce(1).write.mode(
            "append" if i > 1 else "overwrite"
        ).parquet(feed)
        new = set(_glob.glob(os.path.join(feed, "part-*"))) - parts_seen
        for p in new:
            os.utime(p, (t0 + 100 * i, t0 + 100 * i))
        parts_seen |= new
    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    streaming_ivfpq_ingest(stream, idx, os.path.join(work, "ckpt"))
    folded = compact_ivfpq_ingest(spark, idx, watermark=2)
    if folded <= 0 or ivfpq_ingest_watermark(idx) != 2:
        raise ValueError(
            f"compaction did not fold (folded={folded}, "
            f"watermark={ivfpq_ingest_watermark(idx)})"
        )
    # replay FOLDED micro-batch 2 (ingest batch id 2): must be dropped
    replayed = append_ivfpq_index(
        e.where(F.pmod("vec_id", F.lit(4)) == 2), idx, batch_id=2
    )
    if replayed != 0:
        raise ValueError(
            f"replayed folded batch landed {replayed} rows (must drop)"
        )
    return read_ivfpq_rows(spark, idx).select(
        "vec_id",
        F.col("list_id").cast("long").alias("list_id"),
        F.col("codes")[0].alias("k0"),
        F.col("codes")[1].alias("k1"),
        F.col("codes")[2].alias("k2"),
        F.col("codes")[3].alias("k3"),
        F.lit(int(ivfpq_ingest_watermark(idx))).cast("long").alias(
            "watermark"
        ),
    )


@query(
    "q242_forget_everywhere",
    """
    WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 1000),
    vecs AS (SELECT vec_id FROM embeddings WHERE vec_id < 1000),
    fp AS (
        SELECT doc_id, doc_id % 2 AS b,
               md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
                   AS fingerprint
        FROM docs
    ), surv AS (
        SELECT DISTINCT fingerprint,
               first_value(doc_id) OVER (
                   PARTITION BY fingerprint ORDER BY b, doc_id
               ) AS s
        FROM fp
    ), toks AS (
        SELECT doc_id,
               regexp_split_to_array(trim(lower(text)), '\\s+') AS t
        FROM docs WHERE trim(text) <> ''
    ), grams AS (
        SELECT DISTINCT doc_id, md5(array_to_string(t[i:i+7], ' ')) AS g
        FROM (SELECT doc_id, t, unnest(range(1, len(t)-6)) AS i
              FROM toks WHERE len(t) >= 8)
    )
    SELECT 'exact' AS store, fingerprint AS key
    FROM surv WHERE s % 11 <> 3
    UNION ALL
    SELECT 'bands', CAST(doc_id AS VARCHAR) FROM toks
    WHERE len(t) >= 3 AND doc_id % 11 <> 3
    UNION ALL
    SELECT 'embedding_lsh', CAST(vec_id AS VARCHAR) FROM vecs
    WHERE vec_id % 11 <> 3
    UNION ALL
    SELECT 'spans', g FROM (
        SELECT g, bool_or(doc_id % 11 <> 3) AS has_retained
        FROM grams GROUP BY g
    ) WHERE has_retained
    UNION ALL
    SELECT 'inverted_index', CAST(doc_id AS VARCHAR) FROM toks
    WHERE doc_id % 11 <> 3
    UNION ALL
    SELECT 'ivf_index', CAST(vec_id AS VARCHAR) FROM vecs
    WHERE vec_id % 11 <> 3
    UNION ALL
    SELECT 'ivfpq_index', CAST(vec_id AS VARCHAR) FROM vecs
    WHERE vec_id % 11 <> 3
    """,
)
def q242_forget_everywhere(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE deletion request, EVERY derived artifact (operators/
    erasure.py::forget_everywhere) — the compliance completion of
    q239's exact-ledger erasure: a forgotten document must also leave
    the MinHash band state, the embedding-LSH signature state, the
    span digest state (digests shared with RETAINED documents
    survive — a shared window is not the forgotten document's data
    alone), the inverted index (postings AND recomputed df/cf stats),
    and the ANN + IVFPQ indexes (partition-LOCAL anti-join rewrites —
    only the |ids| affected lists are touched, the base/cell split of
    a compacted streaming IVFPQ index both covered). The engine
    builds all seven stores over two %2 vintages, erases every id
    with ``id % 11 == 3`` through the single orchestrator call (ids
    as a DataFrame feed — anti-joined, never collected), then audits
    MEMBERSHIP: one row per (store, surviving key). The oracle
    restates each store's expected surviving population from the raw
    tables — any id still present anywhere, or any over-erased
    survivor, breaks the hash."""
    from ..functions.ann_index import build_ivf_index
    from ..functions.ivfpq import (
        append_ivfpq_index,
        build_ivfpq_index,
        compact_ivfpq_ingest,
        read_ivfpq_rows,
    )
    from ..operators.dedup_state import (
        dedup_exact_incremental,
        embedding_lsh_incremental,
        minhash_incremental,
        span_dedup_incremental,
    )
    from ..operators.erasure import forget_everywhere
    from ..operators.index_state import inverted_index_incremental

    work = tempfile.mkdtemp(prefix="ehs_forget_all_")
    st = os.path.join(work, "state")
    ixst = os.path.join(work, "ixstate")
    ivf = os.path.join(work, "ivf")
    ivfpq = os.path.join(work, "ivfpq")
    # bounded corpus (doc_id/vec_id < 1000): the membership audit is a
    # LIFECYCLE gate over seven stores, not a throughput probe — the
    # bound keeps its bench cost flat across scale factors (the same
    # predicate bounds the oracle)
    d = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .where(F.col("doc_id") < 1000)
    )
    v = (
        _t(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .where(F.col("vec_id") < 1000)
    )
    for i in (0, 1):
        batch = d.where(F.pmod("doc_id", F.lit(2)) == i)
        dedup_exact_incremental(batch, st, i + 1)
        minhash_incremental(batch, st, i + 1)
        span_dedup_incremental(batch, st, i + 1, n=8)
        inverted_index_incremental(batch, ixst, i + 1)
        embedding_lsh_incremental(
            v.where(F.pmod("vec_id", F.lit(2)) == i), st, i + 1, dim=64
        )
    build_ivf_index(v.where(F.pmod("vec_id", F.lit(2)) == 0), ivf, nlist=8)
    from ..functions.ann_index import append_ivf_index

    append_ivf_index(v.where(F.pmod("vec_id", F.lit(2)) == 1), ivf)
    build_ivfpq_index(
        v.where(F.pmod("vec_id", F.lit(2)) == 0),
        ivfpq,
        nlist=8,
        m_sub=4,
        k_codes=8,
        iterations=2,
    )
    append_ivfpq_index(
        v.where(F.pmod("vec_id", F.lit(2)) == 1), ivfpq, batch_id=1
    )
    # fold the build into the compacted base so erasure must hit BOTH
    # layers: forgotten evens live in _ibase_v1, forgotten odds in the
    # live ingest_batch=1 cells
    compact_ivfpq_ingest(spark, ivfpq, watermark=0)
    doomed = d.where(F.pmod("doc_id", F.lit(11)) == 3).select("doc_id")
    counts = forget_everywhere(
        spark,
        doomed,
        dedup_state_dir=st,
        span_docs=d.where(F.pmod("doc_id", F.lit(11)) == 3),
        span_retained=d.where(F.pmod("doc_id", F.lit(11)) != 3),
        span_n=8,
        index_state_dir=ixst,
        ivf_index_paths=[ivf],
        ivfpq_index_paths=[ivfpq],
    )
    expected = {
        "exact",
        "bands",
        "embedding_lsh",
        "spans",
        "inverted_index",
        "ivf_index_0",
        "ivfpq_index_0",
    }
    if set(counts) != expected or any(
        counts[k] <= 0
        for k in ("bands", "inverted_index", "ivf_index_0", "ivfpq_index_0")
    ):
        raise ValueError(f"erasure incomplete: {counts}")

    def _base(store: str) -> DataFrame:
        import glob as _glob

        return read_parquet_state(spark, 
            *_glob.glob(os.path.join(st, store, "base_v*"))
        )

    key = lambda c: F.col(c).cast("string").alias("key")
    audits = [
        _base("exact").select(
            F.lit("exact").alias("store"), key("fingerprint")
        ),
        _base("bands").select("id").distinct().select(
            F.lit("bands").alias("store"), key("id")
        ),
        _base("embedding_lsh")
        .select(F.explode("members").alias("m"))
        .distinct()
        .select(F.lit("embedding_lsh").alias("store"), key("m")),
        _base("spans").select(
            F.lit("spans").alias("store"), key("g")
        ),
        read_parquet_state(
            spark,
            *__import__("glob").glob(
                os.path.join(ixst, "postings", "base_v*")
            ),
        )
        .select("doc_id")
        .distinct()
        .select(F.lit("inverted_index").alias("store"), key("doc_id")),
        read_parquet_state(spark, ivf)
        .select("vec_id")
        .distinct()
        .select(F.lit("ivf_index").alias("store"), key("vec_id")),
        read_ivfpq_rows(spark, ivfpq)
        .select("vec_id")
        .distinct()
        .select(F.lit("ivfpq_index").alias("store"), key("vec_id")),
    ]
    out = audits[0]
    for a in audits[1:]:
        out = out.unionByName(a)
    return out


@query(
    "q243_ivfpq_residual",
    """
    WITH centers AS (
        SELECT vec_id AS cid, embedding AS cv FROM embeddings
        WHERE vec_id < 64
    ), corpus AS (
        SELECT e.vec_id,
               [c.cv[j] + 0.1 * e.embedding[j]
                FOR j IN range(1, len(e.embedding)+1)] AS v
        FROM embeddings e JOIN centers c ON e.vec_id % 64 = c.cid
    ), bf AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(
                       q.v::DOUBLE[], c.v::DOUBLE[]) DESC,
                       c.vec_id ASC
               ) AS rank,
               round(list_cosine_similarity(
                   q.v::DOUBLE[], c.v::DOUBLE[]), 4) AS sim
        FROM corpus q JOIN corpus c ON q.vec_id <> c.vec_id
        WHERE q.vec_id % 20 = 10
    ), stats AS (
        SELECT count(DISTINCT query_id) AS n_queries,
               CAST(count(*) FILTER (rank <= 5) AS BIGINT) AS n_truth,
               CAST(round(CAST(avg(sim) FILTER (rank = 1)
                    AS DECIMAL(30,10)), 4) AS DOUBLE) AS avg_top1_sim
        FROM bf
    )
    SELECT 'raw' AS variant, n_queries, n_truth, avg_top1_sim,
           true AS recall_ok, true AS gap_ok
    FROM stats
    UNION ALL
    SELECT 'residual', n_queries, n_truth, avg_top1_sim, true, true
    FROM stats
    """,
)
def q243_ivfpq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESIDUAL encoding for the IVFPQ index (functions/ivfpq.py::
    build_ivfpq_index(residual=True), the FAISS-IVFADC accuracy
    refinement): codes quantize ``vec - pivot[list_id]`` with
    L2-assigned codebooks (pq_train(metric='l2') — centroid MAGNITUDE
    is part of the reconstruction pivot + c[code], so the suite's
    spherical assignment pairs small residuals with large centroids
    and measurably LOSES recall; Euclidean assignment is the
    FAISS-standard fix, and the zero-residual pivot rows are excluded
    from training seeds or every seed is the zero vector and the
    codebook collapses — both failure modes are regression-pinned in
    tests/test_ivfpq.py). Query-side cost of residual ADC: one scalar
    dot(q, pivot) and two bounded literal tables per (query, probed
    list), riding the already-broadcast probe rows; layout, pruning,
    and the frozen append contract are unchanged.

    MEASURED HONESTY NOTE: on the suite's deliberately-unclustered
    synthetic embeddings residual encoding CANNOT help — the best of
    16 random pivots in 64-dim has cosine ~0.25, so residual norms are
    ~1.5x the raw norms and the same code budget buys LESS accuracy
    (measured: ADC recall 0.232 raw vs 0.168 residual). The gate
    therefore runs on the clustered construction the technique exists
    for (64 centers from the embeddings table, spread 0.1 — the
    deterministic arithmetic the oracle restates): identical budgets
    (nlist=64, m=16, k=16, literal path, nprobe=8, ADC-only — refine
    saturates both variants to 1.0), raw measures 0.736 and residual
    0.824, and the in-plan gates pin residual recall >= 0.78 AND an
    improvement gap >= 0.04 of truth. ADC-only at nprobe=8 equals
    nprobe=64 here (the coarse probe loses nothing), so the gap is
    pure quantization quality."""
    from ..functions.ivfpq import build_ivfpq_index, query_ivfpq_index
    from ..functions.similarity import brute_force_topk

    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    centers = e.where(F.col("vec_id") < 64).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    corpus = (
        e.withColumn("cid", F.pmod("vec_id", F.lit(64)))
        .join(F.broadcast(centers), "cid")
        .select(
            "vec_id",
            F.zip_with(
                "cv", "embedding", lambda c, x: c + F.lit(0.1) * x
            ).alias("embedding"),
        )
        .localCheckpoint()
    )
    q = corpus.where(F.col("vec_id") % 20 == 10)
    bf = brute_force_topk(q, corpus, k=5).localCheckpoint()
    hits = {}
    for variant, res in (("raw", False), ("residual", True)):
        d = tempfile.mkdtemp(prefix=f"ehs_ivfpq_{variant}_")
        build_ivfpq_index(
            corpus,
            d,
            nlist=64,
            m_sub=16,
            k_codes=16,
            iterations=2,
            residual=res,
            arrow=False,
        )
        approx = query_ivfpq_index(spark, d, q, k=5, nprobe=8).select(
            "query_id", "neighbor_id"
        )
        hits[variant] = bf.join(
            approx, ["query_id", "neighbor_id"], "left_semi"
        ).agg(F.count("*").alias(f"nh_{variant}"))
    stats = bf.agg(
        F.count_distinct("query_id").alias("n_queries"),
        F.count("*").alias("n_truth"),
        _sround(
            F.avg(F.when(F.col("rank") == 1, F.col("sim"))), 4
        ).alias("avg_top1_sim"),
    )
    joined = stats.crossJoin(F.broadcast(hits["raw"])).crossJoin(
        F.broadcast(hits["residual"])
    )
    gap_ok = (
        (F.col("nh_residual") - F.col("nh_raw"))
        >= F.lit(0.04) * F.col("n_truth")
    ).alias("gap_ok")
    raw_row = joined.select(
        F.lit("raw").alias("variant"),
        "n_queries",
        "n_truth",
        "avg_top1_sim",
        (F.col("nh_raw") / F.col("n_truth") >= 0.6).alias("recall_ok"),
        gap_ok,
    )
    res_row = joined.select(
        F.lit("residual").alias("variant"),
        "n_queries",
        "n_truth",
        "avg_top1_sim",
        (F.col("nh_residual") / F.col("n_truth") >= 0.78).alias(
            "recall_ok"
        ),
        gap_ok,
    )
    return raw_row.unionByName(res_row)


@query(
    "q244_ivfpq_rebalance",
    """
    WITH dims AS (SELECT unnest(range(1, 17)) AS pos),
    subs AS (SELECT unnest(range(0, 4)) AS sub),
    base AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0),
    c0 AS (
        SELECT s.sub,
               row_number() OVER (PARTITION BY s.sub ORDER BY e.vec_id)
                   - 1 AS code,
               list_transform(
                   e.embedding[s.sub*16+1 : s.sub*16+16]::DOUBLE[],
                   x -> CAST(round(CAST(x AS DECIMAL(30,10)), 6) AS DOUBLE)
               ) AS centroid
        FROM (SELECT * FROM base ORDER BY vec_id LIMIT 8) e, subs s
    ), a1 AS (
        SELECT vec_id, sub, code FROM (
            SELECT e.vec_id, c.sub, c.code,
                   row_number() OVER (
                       PARTITION BY e.vec_id, c.sub
                       ORDER BY list_cosine_similarity(
                           e.embedding[c.sub*16+1 : c.sub*16+16]::DOUBLE[],
                           c.centroid) DESC, c.code ASC
                   ) AS rn
            FROM base e, c0 c
        ) WHERE rn = 1
    ), c1 AS (
        SELECT sub, code, list(rv ORDER BY pos) AS centroid FROM (
            SELECT a.sub, a.code, d.pos,
                   CAST(round(CAST(avg(e.embedding[a.sub*16 + d.pos])
                        AS DECIMAL(30,10)), 6) AS DOUBLE) AS rv
            FROM a1 a JOIN base e USING (vec_id), dims d
            GROUP BY a.sub, a.code, d.pos
        ) GROUP BY sub, code
    )
    SELECT vec_id,
           max(CASE WHEN sub = 0 THEN code END) AS k0,
           max(CASE WHEN sub = 1 THEN code END) AS k1,
           max(CASE WHEN sub = 2 THEN code END) AS k2,
           max(CASE WHEN sub = 3 THEN code END) AS k3,
           true AS ok
    FROM (
        SELECT vec_id, sub, code FROM (
            SELECT e.vec_id, c.sub, c.code,
                   row_number() OVER (
                       PARTITION BY e.vec_id, c.sub
                       ORDER BY list_cosine_similarity(
                           e.embedding[c.sub*16+1 : c.sub*16+16]::DOUBLE[],
                           c.centroid) DESC, c.code ASC
                   ) AS rn
            FROM embeddings e, c1 c
        ) WHERE rn = 1
    ) GROUP BY vec_id
    """,
)
def q244_ivfpq_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOT-LIST rebalance of the composed IVFPQ index (functions/
    ivfpq.py::rebalance_ivfpq_index) — the documented trade the index
    makes real: codes-only storage means the k-means split must fetch
    the hot lists' float vectors from the ROW STORE by vec_id (cold
    lists are never read or rewritten). The lifecycle exercised here
    is the production one: build, stream-style batch-id append, fold
    into the compacted base (the rebalance requires it — the watermark
    fences replays that would resurrect rows into deleted lists),
    split every hot list (cap = ceil(n/12) makes all 8 initial lists
    hot), and verify THREE invariants in-plan: the maximum list size
    strictly shrank to within the cap, membership is exactly
    preserved, and a FULL probe (nprobe = all lists) returns
    bit-identical results before and after — raw-mode codes are
    list-independent, so a physical re-layout must not move a single
    ADC score. The oracle restates the (vec_id, codes) payload as the
    from-scratch union encode (q234's arithmetic over the whole
    corpus): any lost, duplicated, or mutated code row breaks the
    hash."""
    from ..functions.ivfpq import (
        append_ivfpq_index,
        build_ivfpq_index,
        compact_ivfpq_ingest,
        query_ivfpq_index,
        read_ivfpq_rows,
        rebalance_ivfpq_index,
    )

    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    work = tempfile.mkdtemp(prefix="ehs_ivfpq_reb_")
    path = os.path.join(work, "idx")
    n0, _, _ = build_ivfpq_index(
        e.where(F.pmod("vec_id", F.lit(2)) == 0),
        path,
        nlist=8,
        m_sub=4,
        k_codes=8,
        iterations=2,
    )
    append_ivfpq_index(
        e.where(F.pmod("vec_id", F.lit(2)) == 1), path, batch_id=1
    )
    compact_ivfpq_ingest(spark, path, watermark=1)
    # effective counts/sizes from parquet footers driver-side (the
    # compaction just completed, so the footers ARE the table) — the
    # three scan+collect jobs this replaces returned the identical
    # integers; the probe invariants below are unchanged
    from ..functions.ivfpq import _effective_list_sizes

    n = sum(_effective_list_sizes(path).values())
    cap = -(-n // 12)  # ceil(n/12): every initial list (~n/8) is hot
    q = e.where(F.col("vec_id") < 5)
    probe = lambda npr: {  # noqa: E731
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in query_ivfpq_index(spark, path, q, k=10, nprobe=npr).collect()
    }
    sizes = lambda: list(_effective_list_sizes(path).values())  # noqa: E731
    before_sizes = sizes()
    before_probe = probe(len(before_sizes))
    split = rebalance_ivfpq_index(
        spark, path, row_store=e, max_list_size=cap
    )
    after_sizes = sizes()
    after_probe = probe(len(after_sizes))
    ok = bool(
        split > 0
        and max(after_sizes) < max(before_sizes)
        and max(after_sizes) <= cap
        and sum(after_sizes) == n
        and after_probe == before_probe
    )
    if not ok:
        raise ValueError(
            f"rebalance broke an invariant: split={split}, "
            f"sizes {max(before_sizes)}->{max(after_sizes)} cap={cap}, "
            f"n {n}->{sum(after_sizes)}, "
            f"probe_equal={after_probe == before_probe}"
        )
    return read_ivfpq_rows(spark, path).select(
        "vec_id",
        F.col("codes")[0].alias("k0"),
        F.col("codes")[1].alias("k1"),
        F.col("codes")[2].alias("k2"),
        F.col("codes")[3].alias("k3"),
        F.lit(ok).alias("ok"),
    )


@query(
    "q245_adaptive_nprobe",
    """
    WITH centers AS (
        SELECT vec_id AS cid, embedding AS cv FROM embeddings
        WHERE vec_id < 64
    ), c AS (
        SELECT e.vec_id,
               [ct.cv[j] + 0.1 * e.embedding[j]
                FOR j IN range(1, len(e.embedding)+1)] AS embedding,
               e.vec_id % 50 AS cat
        FROM embeddings e JOIN centers ct ON e.vec_id % 64 = ct.cid
    ), piv AS (
        SELECT vec_id AS list_id, embedding AS pivot FROM c
        ORDER BY vec_id LIMIT 16
    ), assign AS (
        SELECT vec_id, cat, list_id FROM (
            SELECT x.vec_id, x.cat, p.list_id,
                   row_number() OVER (
                       PARTITION BY x.vec_id
                       ORDER BY list_cosine_similarity(
                           x.embedding::DOUBLE[], p.pivot::DOUBLE[]) DESC,
                           p.list_id ASC
                   ) AS rn
            FROM c x, piv p
        ) WHERE rn = 1
    ), qlists AS (
        SELECT q.vec_id AS query_id, p.list_id,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(
                       q.embedding::DOUBLE[], p.pivot::DOUBLE[]) DESC,
                       p.list_id ASC
               ) AS lrank
        FROM c q, piv p WHERE q.vec_id % 20 = 10
    ), lvl AS (
        SELECT unnest([1, 2, 3, 4]) AS it, unnest([2, 4, 8, 16]) AS np
    ), cand AS (
        SELECT ql.query_id, l.it, l.np, count(a.vec_id) AS n_cand
        FROM qlists ql
        JOIN lvl l ON ql.lrank <= l.np
        LEFT JOIN assign a
          ON a.list_id = ql.list_id AND a.cat = 7
             AND a.vec_id <> ql.query_id
        GROUP BY ql.query_id, l.it, l.np
    ), pick AS (
        SELECT query_id,
               coalesce(min(it) FILTER (n_cand >= 20), 4) AS n_iters
        FROM cand GROUP BY query_id
    )
    SELECT query_id, CAST(n_iters AS INT) AS n_iters,
           CAST(CASE n_iters WHEN 1 THEN 2 WHEN 2 THEN 4
                WHEN 3 THEN 8 ELSE 16 END AS INT) AS nprobe_used,
           true AS recall_ok
    FROM pick
    """,
)
def q245_adaptive_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADAPTIVE probe widening for SELECTIVE filtered ANN (functions/
    ann_index.py::query_ivf_index_adaptive) — q238 fixes nprobe=12
    because its 1/5 filter keeps enough of every probed list; a
    production filter of UNKNOWN selectivity (here 1/50 — a rare
    language or license) cannot be served by any fixed width: each
    query starts at nprobe=2 and doubles until its OVERSAMPLED
    shortlist (k x 4 = 20 filtered candidates — merely finding k says
    nothing about whether the TRUE top-k were probed) fills or the
    probe covers every list (where the scan IS the exact filtered
    search). The corpus is the q243 clustered construction — the data
    shape where probed-prefix coverage correlates with recall, i.e.
    where a stopping rule is MEANINGFUL (on the deliberately
    unclustered embeddings recall is ~nprobe/nlist for ANY stopping
    rule — measured 0.29 at early stop — because the true neighbors
    are uniform across lists; that regime needs q238's fixed wide
    probe, not adaptivity). The oracle restates the widening schedule
    per-query from first principles — assign every corpus row to its
    list, rank each query's lists, and compute the first doubling
    level at which >= 20 filtered candidates fall inside the probed
    prefix — so a wrong stopping decision (too eager OR too lazy)
    breaks the hash, not just a recall average. The in-plan gate pins
    recall@5 >= 0.8 against the exact filtered brute force (measured
    1.0 at sf0.01, 0.91 at sf0.1), and a loud check asserts the loop
    actually widened."""
    from ..functions.ann_index import (
        build_ivf_index,
        query_ivf_index_adaptive,
    )
    from ..functions.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    centers = emb.where(F.col("vec_id") < 64).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    e = (
        emb.withColumn("cid", F.pmod("vec_id", F.lit(64)))
        .join(F.broadcast(centers), "cid")
        .select(
            "vec_id",
            F.zip_with(
                "cv", "embedding", lambda c, x: c + F.lit(0.1) * x
            ).alias("embedding"),
            F.pmod("vec_id", F.lit(50)).alias("cat"),
        )
        .localCheckpoint()
    )
    q = e.where(F.col("vec_id") % 20 == 10)
    work = tempfile.mkdtemp(prefix="ehs_ivf_adapt_")
    build_ivf_index(e, work, nlist=16, attr_cols=["cat"])
    out = query_ivf_index_adaptive(
        spark,
        work,
        q,
        k=5,
        nprobe0=2,
        attr_filter=F.col("cat") == 7,
        oversample=4,
    ).localCheckpoint()
    # recall gate vs the exact filtered brute force
    bf = brute_force_topk(q, e.where(F.col("cat") == 7), k=5)
    n_truth = bf.count()
    n_hits = bf.join(
        out.select("query_id", "neighbor_id"),
        ["query_id", "neighbor_id"],
        "left_semi",
    ).count()
    recall_ok = bool(n_truth > 0 and n_hits / n_truth >= 0.8)
    widened = out.agg(F.max("n_iters").alias("m")).first()["m"]
    if not recall_ok or widened < 2:
        raise ValueError(
            f"adaptive probe failed: recall={n_hits}/{n_truth}, "
            f"max_iters={widened}"
        )
    return (
        out.groupBy("query_id")
        .agg(
            F.max("n_iters").cast("int").alias("n_iters"),
            F.max("nprobe_used").cast("int").alias("nprobe_used"),
        )
        .select(
            "query_id",
            "n_iters",
            "nprobe_used",
            F.lit(recall_ok).alias("recall_ok"),
        )
    )


@query(
    "q246_decontaminate",
    """
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
        FROM documents
    ), needles AS (
        SELECT DISTINCT array_to_string(t[i:i+7], ' ') AS gram
        FROM (SELECT t, unnest(range(1, len(t) - 6)) AS i
              FROM toks WHERE doc_id % 11 = 0 AND len(t) >= 8)
    ), doc_grams AS (
        SELECT DISTINCT doc_id, array_to_string(t[i:i+7], ' ') AS gram
        FROM (SELECT doc_id, t, unnest(range(1, len(t) - 6)) AS i
              FROM toks WHERE len(t) >= 8)
    ), stats AS (
        SELECT g.doc_id, count(*) AS n_grams, count(n.gram) AS n_hit
        FROM doc_grams g LEFT JOIN needles n ON g.gram = n.gram
        GROUP BY g.doc_id
    )
    SELECT t.doc_id AS id,
           coalesce(s.n_grams, 0) AS n_grams,
           coalesce(s.n_hit, 0) AS n_hit,
           CASE WHEN coalesce(s.n_grams, 0) > 0
                THEN CAST(round(CAST(s.n_hit / s.n_grams
                     AS DECIMAL(30,10)), 6) AS DOUBLE)
                ELSE 0.0 END AS ratio,
           CASE WHEN coalesce(s.n_grams, 0) > 0
                THEN CAST(round(CAST(s.n_hit / s.n_grams
                     AS DECIMAL(30,10)), 6) AS DOUBLE) > 0.05
                ELSE false END AS contaminated
    FROM toks t LEFT JOIN stats s ON t.doc_id = s.doc_id
    """,
)
def q246_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark DECONTAMINATION at the corpus boundary
    (functions/selection.py::contamination_report — the n-gram-overlap
    rule of the GPT-3 appendix-C / PaLM / Llama training reports,
    which the reference's cursor surface has no analogue for): every
    11th document stands in for an evaluation benchmark; each training
    document reports the fraction of its DISTINCT word 8-grams that
    appear anywhere in the benchmark, plus the threshold verdict.
    Unlike q44's hit-count scan, this keeps CLEAN docs in the result
    (a decontamination report is a filter feed — silently dropping
    zero-hit docs would be useless), counts distinct grams on both
    sides so repetition cannot tilt the ratio, and reports short docs
    (< 8 tokens) loudly as n_grams=0. Plan shape at 100 TB: benchmark
    grams are a broadcast (benchmarks are MBs), the corpus explodes
    ONCE and never shuffles on gram — per-doc aggregation is the only
    shuffle, keyed by the id the scan is already clustered on."""
    from ..functions.selection import contamination_report

    d = _t(spark, sf_dir, "documents")
    return contamination_report(
        d,
        d.where(F.col("doc_id") % 11 == 0),
        n=8,
        threshold=0.05,
    )


@query(
    "q247_dsir_select",
    """
    WITH toks AS (
        SELECT doc_id, lang,
               regexp_split_to_array(lower(trim(text)), '\\s+') AS t
        FROM documents
    ), feats AS (
        SELECT doc_id AS id, lang,
               CAST(concat('0x', substr(md5(concat('7|',
                   array_to_string(t[i:i+1], ' '))), 1, 15)) AS BIGINT)
                   % 4096 AS bucket,
               count(*) AS cnt
        FROM (SELECT doc_id, lang, t, unnest(range(1, len(t))) AS i
              FROM toks WHERE len(t) >= 2)
        GROUP BY 1, 2, 3
    ), grid AS (
        SELECT unnest(range(0, 4096)) AS bucket
    ), tcnt AS (
        SELECT bucket, sum(cnt) AS c FROM feats
        WHERE lang = 'en' GROUP BY bucket
    ), rcnt AS (
        SELECT bucket, sum(cnt) AS c FROM feats GROUP BY bucket
    ), tt AS (
        SELECT coalesce(sum(cnt), 0) AS total FROM feats
        WHERE lang = 'en'
    ), rt AS (
        SELECT coalesce(sum(cnt), 0) AS total FROM feats
    ), ratio AS (
        SELECT g.bucket,
               CAST(ln((coalesce(tc.c, 0) + 1.0)
                        / (tt.total + 1.0 * 4096))
                    - ln((coalesce(rc.c, 0) + 1.0)
                        / (rt.total + 1.0 * 4096))
                    AS DECIMAL(30,6)) AS lratio
        FROM grid g
        LEFT JOIN tcnt tc ON g.bucket = tc.bucket
        LEFT JOIN rcnt rc ON g.bucket = rc.bucket
        CROSS JOIN tt CROSS JOIN rt
    ), weights AS (
        SELECT id, CAST(round(sum(cnt * lratio), 6) AS DOUBLE) AS weight
        FROM feats JOIN ratio ON feats.bucket = ratio.bucket
        GROUP BY id
    ), keyed AS (
        SELECT id, weight,
               CAST(round(CAST(weight / 1.0 + (-ln(-ln(
                   ((CAST(concat('0x', substr(md5(concat('13|',
                        CAST(id AS VARCHAR))), 1, 15)) AS BIGINT)
                     % 1000000) + 0.5) / 1000000.0)))
                   AS DECIMAL(30,10)), 6) AS DOUBLE) AS key
        FROM weights
    )
    SELECT id, weight, key,
           CAST(row_number() OVER (ORDER BY key DESC, id ASC)
                AS INT) AS rank
    FROM keyed ORDER BY key DESC, id ASC LIMIT 50
    """,
)
def q247_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (functions/selection.py — Xie et al. 2023,
    arXiv:2302.03169, the importance-resampling recipe behind several
    published LLM data pipelines): hashed word-bigram features (4096
    md5 buckets, the engine-reproducible hash the dedup family uses),
    smoothed multinomials fit on the TARGET slice (lang='en', standing
    in for a high-quality seed corpus) and on the RAW corpus, per-doc
    log importance weight as an exact-DECIMAL multiply-accumulate
    (order/partition-independent — the determinism contract), and a
    hash-seeded Gumbel top-50 resample so the sampled set is
    reproducible across engines and runs. Plan shape at 100 TB: one
    corpus pass builds features (explode + partial agg), BOTH
    distributions are 4096-row broadcast tables, and the resample is
    TakeOrderedAndProject (per-partition heaps + one bounded merge),
    never a global sort. The oracle restates feature hashing, both
    multinomials, the decimal accumulate, and the Gumbel keys from
    first principles, so a drifted weight ANYWHERE in the corpus
    breaks the hash — not just the sampled ids."""
    from ..functions.selection import (
        bucket_log_probs,
        dsir_log_weights,
        gumbel_topk,
        hashed_ngram_features,
    )

    d = _t(spark, sf_dir, "documents")
    buckets = 4096
    raw_feats = hashed_ngram_features(
        d, n=2, buckets=buckets, seed=7
    ).localCheckpoint(eager=False)
    target_feats = hashed_ngram_features(
        d.where(F.col("lang") == "en"), n=2, buckets=buckets, seed=7
    )
    tdist = bucket_log_probs(target_feats, buckets)
    rdist = bucket_log_probs(raw_feats, buckets)
    w = dsir_log_weights(raw_feats, tdist, rdist)
    return gumbel_topk(w, n=50, seed=13).select(
        "id", "weight", "key", F.col("rank").cast("int").alias("rank")
    )


@query(
    "q248_opq_rotation",
    """
    WITH corpus AS (
        SELECT vec_id,
               [CASE WHEN j <= 8 THEN 6.0 WHEN j <= 16 THEN 3.0
                     ELSE 1.0 END * embedding[j]
                FOR j IN range(1, len(embedding)+1)] AS v
        FROM embeddings
    ), bf AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(
                       q.v::DOUBLE[], c.v::DOUBLE[]) DESC,
                       c.vec_id ASC
               ) AS rank,
               round(list_cosine_similarity(
                   q.v::DOUBLE[], c.v::DOUBLE[]), 4) AS sim
        FROM corpus q JOIN corpus c ON q.vec_id <> c.vec_id
        WHERE q.vec_id % 20 = 10
    ), stats AS (
        SELECT count(DISTINCT query_id) AS n_queries,
               CAST(count(*) FILTER (rank <= 5) AS BIGINT) AS n_truth,
               CAST(round(CAST(avg(sim) FILTER (rank = 1)
                    AS DECIMAL(30,10)), 4) AS DOUBLE) AS avg_top1_sim
        FROM bf
    )
    SELECT 'raw' AS variant, n_queries, n_truth, avg_top1_sim,
           true AS recall_ok, true AS gap_ok
    FROM stats
    UNION ALL
    SELECT 'opq', n_queries, n_truth, avg_top1_sim, true, true
    FROM stats
    """,
)
def q248_opq_rotation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ — the learned orthogonal rotation in front of PQ
    (functions/opq.py; Ge et al. 2013, the `OPQ` pre-transform of
    FAISS index factories). Plain PQ splits dims by POSITION, so the
    gate runs on the construction the technique exists for: variance
    deliberately concentrated (dims 1-8 x6, 9-16 x3 — the shape of
    PCA'd or feature-scaled embeddings), which crams almost all the
    energy into the first of 8 subspaces and collapses raw ADC recall.
    The rotation is trained driver-side on a bounded deterministic
    sample (the published recipe trains on samples; R is a d x d
    artifact), applied corpus-wide as ONE Arrow-batched gemm scan, and
    everything downstream is the UNCHANGED pq_train/pq_encode/
    pq_adc_topk machinery — composability is the point (FAISS:
    "OPQ64,IVF...,PQ64"). Orthogonality preserves cosine geometry, so
    the truth set is identical in both spaces and the recall delta is
    pure quantization quality. Identical budgets (m=8, k=16, 3 Lloyd
    rounds), ADC recall@5 measured: raw 0.184 vs OPQ 0.416 at sf0.01,
    0.152 vs 0.320 at sf0.001, 0.066 vs 0.174 at sf0.1 (at sf0.1 the
    FIXED 16-code budget over 10x the vectors starves both variants —
    OPQ still rescues 2.6x; a production build scales k with corpus,
    this gate deliberately does not so the comparison stays
    budget-identical). In-plan gates pin OPQ recall@5 >= 0.15 AND an
    improvement gap >= 0.08 of truth — chosen to hold at every SF the
    suite runs; deterministic per dataset, so the margin cannot
    flake. The oracle restates the anisotropic construction and the
    exact brute-force truth; the recall gates are in-plan (loud
    ValueError on regression), q229/q243's pattern."""
    from ..functions.opq import opq_train_rotation, rotate_embeddings
    from ..functions.pq import pq_adc_topk, pq_encode, pq_train
    from ..functions.similarity import brute_force_topk

    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    scale = [6.0] * 8 + [3.0] * 8 + [1.0] * 48
    corpus = e.select(
        "vec_id",
        F.zip_with(
            "embedding",
            F.array(*[F.lit(s) for s in scale]),
            lambda x, s: x * s,
        ).alias("embedding"),
    ).localCheckpoint()
    q = corpus.where(F.col("vec_id") % 20 == 10)
    bf = brute_force_topk(q, corpus, k=5).localCheckpoint()
    hits = {}
    for variant in ("raw", "opq"):
        if variant == "raw":
            cdf, qdf = corpus, q
        else:
            R = opq_train_rotation(
                corpus, m_sub=8, k_codes=16, opq_iters=6,
                kmeans_iters=8, sample_n=2048, seed=0,
            )
            cdf = (
                rotate_embeddings(corpus, R)
                .select("vec_id", F.col("rotated").alias("embedding"))
                .localCheckpoint()
            )
            qdf = cdf.where(F.col("vec_id") % 20 == 10)
        books = pq_train(cdf, m_sub=8, k_codes=16, iterations=3)
        enc = pq_encode(cdf, books).localCheckpoint(eager=False)
        approx = pq_adc_topk(enc, books, qdf, k=6).where(
            F.col("query_id") != F.col("neighbor_id")
        )
        hits[variant] = (
            bf.join(
                approx.select("query_id", "neighbor_id"),
                ["query_id", "neighbor_id"],
                "left_semi",
            )
            .agg(F.count("*").alias(f"nh_{variant}"))
        )
    stats = bf.agg(
        F.count_distinct("query_id").alias("n_queries"),
        F.count("*").alias("n_truth"),
        _sround(
            F.avg(F.when(F.col("rank") == 1, F.col("sim"))), 4
        ).alias("avg_top1_sim"),
    )
    joined = (
        stats.crossJoin(F.broadcast(hits["raw"]))
        .crossJoin(F.broadcast(hits["opq"]))
        .localCheckpoint()
    )
    row = joined.first()
    recall_ok = bool(row["nh_opq"] >= 0.15 * row["n_truth"])
    gap_ok = bool(
        row["nh_opq"] - row["nh_raw"] >= 0.08 * row["n_truth"]
    )
    if not (recall_ok and gap_ok):
        raise ValueError(
            f"OPQ gate failed: raw={row['nh_raw']}, "
            f"opq={row['nh_opq']}, truth={row['n_truth']}"
        )
    out = joined.select(
        "n_queries",
        "n_truth",
        "avg_top1_sim",
        F.lit(recall_ok).alias("recall_ok"),
        F.lit(gap_ok).alias("gap_ok"),
    )
    return out.select(
        F.lit("raw").alias("variant"), "*"
    ).unionByName(out.select(F.lit("opq").alias("variant"), "*"))


@query(
    "q249_edit_join",
    """
    WITH n AS (
        SELECT p_name AS s, count(*) AS cnt FROM part GROUP BY 1
    ), near AS (
        SELECT a.s, coalesce(sum(b.cnt), 0) AS n_near
        FROM n a LEFT JOIN n b
          ON a.s <> b.s
         AND abs(length(a.s) - length(b.s)) <= 1
         AND levenshtein(a.s, b.s) = 1
        GROUP BY a.s
    )
    SELECT p.p_partkey AS id,
           CAST(n.cnt - 1 AS BIGINT) AS n_exact,
           CAST(coalesce(near.n_near, 0) AS BIGINT) AS n_near
    FROM part p
    JOIN n ON p.p_name = n.s
    LEFT JOIN near ON p.p_name = near.s
    """,
)
def q249_edit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance SIMILARITY JOIN (functions/dedup.py::
    edit_distance_join — Ed-Join prefix filtering, Xiao et al. 2008),
    shaped the way it must run at 100 TB: the part names are collapsed
    to their DISTINCT values first (the exact-dedup tier — byte-equal
    mass never enters the similarity join, the same argument as LSH's
    max_bucket cap), the q-gram prefix join runs over distinct names
    only, and per-part neighbourhood stats come back via two
    broadcastable joins on the name. The oracle restates the whole
    thing as the naive levenshtein theta self-join DuckDB can afford
    at sf0.01. Output per part: how many OTHER parts carry the exact
    same name, and how many sit at edit distance exactly 1."""
    from ..functions.dedup import edit_distance_join

    parts = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("id"), F.col("p_name").alias("s")
    )
    names = parts.groupBy("s").agg(F.count("*").alias("cnt"))
    nn = names.select(F.col("s").alias("id"), "s")
    pairs = edit_distance_join(nn, nn, max_dist=1).where(
        F.col("id_a") != F.col("id_b")
    )
    near = (
        pairs.join(
            names.select(F.col("s").alias("id_b"), F.col("cnt").alias("cb")),
            "id_b",
        )
        .groupBy("id_a")
        .agg(F.sum("cb").alias("n_near"))
        .select(F.col("id_a").alias("s"), "n_near")
    )
    return (
        parts.join(F.broadcast(names), "s")
        .join(F.broadcast(near), "s", "left")
        .select(
            "id",
            (F.col("cnt") - 1).cast("long").alias("n_exact"),
            F.coalesce(F.col("n_near"), F.lit(0)).cast("long").alias("n_near"),
        )
    )


@query(
    "q250_record_linkage",
    """
    WITH dirty AS (
        SELECT c_custkey AS did,
               CASE c_custkey % 3
                 WHEN 0 THEN substr(c_name, 1, 9 + c_custkey % 8)
                             || substr(c_name, 11 + c_custkey % 8)
                 WHEN 1 THEN substr(c_name, 1, 9 + c_custkey % 8)
                             || 'X' || substr(c_name, 11 + c_custkey % 8)
                 ELSE substr(c_name, 1, 10 + c_custkey % 8)
                      || 'Z' || substr(c_name, 11 + c_custkey % 8)
               END AS s
        FROM customer
    ), pairs AS (
        SELECT d.did, m.c_custkey AS mid,
               levenshtein(d.s, m.c_name) AS dist
        FROM dirty d JOIN customer m
          ON abs(length(d.s) - length(m.c_name)) <= 1
        WHERE levenshtein(d.s, m.c_name) <= 1
    )
    SELECT did AS id,
           count(*) AS n_cand,
           CAST(min(dist) AS INT) AS min_dist,
           bool_or(did = mid) AS linked
    FROM pairs GROUP BY did
    """,
)
def q250_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECORD LINKAGE — match a dirty feed against a master list
    (functions/dedup.py::edit_distance_join; the fuzzy-matching recipe
    the reference's copy_rows+transform users hand-roll in Python,
    reference docs 'recipes'): every customer name gets one planted
    deterministic typo (delete / substitute-'X' / insert-'Z' at a
    custkey-derived digit position — restated verbatim in the oracle),
    and the ED-join must recover the linkage. Master names share the
    17-char 'Customer#0000…' stem, the prefix filter's worst case —
    the global df-ordering routes candidate generation through the
    RARE tail digits instead, so the equi-join shuffle never lands on
    the stem grams. An in-plan gate raises unless every dirty row
    links back to its own master (dist 1 by construction). Output per
    dirty row: candidate count (neighbouring custkeys legitimately
    collide within one edit), min distance, and the link verdict."""
    from ..functions.dedup import edit_distance_join

    c = _t(spark, sf_dir, "customer")
    mode = F.col("c_custkey") % 3
    dirty = c.select(
        F.col("c_custkey").alias("id"),
        F.when(
            mode == 0,
            F.expr(
                "concat(substring(c_name, 1, 9 + c_custkey % 8),"
                " substring(c_name, 11 + c_custkey % 8))"
            ),
        )
        .when(
            mode == 1,
            F.expr(
                "concat(substring(c_name, 1, 9 + c_custkey % 8),"
                " 'X', substring(c_name, 11 + c_custkey % 8))"
            ),
        )
        .otherwise(
            F.expr(
                "concat(substring(c_name, 1, 10 + c_custkey % 8),"
                " 'Z', substring(c_name, 11 + c_custkey % 8))"
            )
        )
        .alias("s"),
    )
    master = c.select(F.col("c_custkey").alias("id"), F.col("c_name").alias("s"))
    out = (
        edit_distance_join(dirty, master, max_dist=1)
        .groupBy("id_a")
        .agg(
            F.count("*").alias("n_cand"),
            F.min("dist").cast("int").alias("min_dist"),
            F.bool_or(F.col("id_b") == F.col("id_a")).alias("linked"),
        )
        .select(F.col("id_a").alias("id"), "n_cand", "min_dist", "linked")
        .localCheckpoint()
    )
    n_total = c.count()
    n_linked = out.where("linked").count()
    if n_linked != n_total:
        raise ValueError(
            f"record linkage failed: {n_linked}/{n_total} dirty rows "
            "linked back to their master"
        )
    return out


@query(
    "q251_incremental_linkage",
    """
    WITH dirty AS (
        SELECT c_custkey AS did,
               CASE c_custkey % 3
                 WHEN 0 THEN substr(c_name, 1, 9 + c_custkey % 8)
                             || substr(c_name, 11 + c_custkey % 8)
                 WHEN 1 THEN substr(c_name, 1, 9 + c_custkey % 8)
                             || 'X' || substr(c_name, 11 + c_custkey % 8)
                 ELSE substr(c_name, 1, 10 + c_custkey % 8)
                      || 'Z' || substr(c_name, 11 + c_custkey % 8)
               END AS s
        FROM customer
        WHERE c_custkey % 5 < 2
    ), pairs AS (
        SELECT d.did, m.c_custkey AS mid,
               levenshtein(d.s, m.c_name) AS dist
        FROM dirty d JOIN customer m
          ON abs(length(d.s) - length(m.c_name)) <= 1
        WHERE levenshtein(d.s, m.c_name) <= 1
    )
    SELECT did AS id,
           count(*) AS n_cand,
           CAST(min(dist) AS INT) AS min_dist,
           bool_or(did = mid) AS linked
    FROM pairs GROUP BY did
    """,
)
def q251_incremental_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL record linkage against persisted index state
    (operators/linkage_state.py): the master variant index is built in
    TWO appended batches (custkey parity split), batch 0 is then
    REPLAYED (the at-least-once redelivery the versioned layout must
    absorb), and a dirty feed (2/5 of customers, q250's planted-typo
    construction) links against the accumulated state. The oracle
    restates the whole lifecycle as one levenshtein join against the
    FULL master list — so the hash pins both properties at once:
    append-equals-rebuild and replay-changes-nothing. Only the feed
    side computes deletion variants at link time; the master
    neighbourhood streams from parquet, which is the entire point of
    the state at production master-list sizes."""
    import shutil
    import tempfile

    from ..operators.linkage_state import append_linkage_masters, link_batch

    c = _t(spark, sf_dir, "customer")
    master = c.select(
        F.col("c_custkey").alias("id"), F.col("c_name").alias("s")
    )
    mode = F.col("c_custkey") % 3
    dirty = c.where(F.col("c_custkey") % 5 < 2).select(
        F.col("c_custkey").alias("id"),
        F.when(
            mode == 0,
            F.expr(
                "concat(substring(c_name, 1, 9 + c_custkey % 8),"
                " substring(c_name, 11 + c_custkey % 8))"
            ),
        )
        .when(
            mode == 1,
            F.expr(
                "concat(substring(c_name, 1, 9 + c_custkey % 8),"
                " 'X', substring(c_name, 11 + c_custkey % 8))"
            ),
        )
        .otherwise(
            F.expr(
                "concat(substring(c_name, 1, 10 + c_custkey % 8),"
                " 'Z', substring(c_name, 11 + c_custkey % 8))"
            )
        )
        .alias("s"),
    )
    work = tempfile.mkdtemp(prefix="ehs_linkage_q251_")
    try:
        append_linkage_masters(
            master.where(F.col("id") % 2 == 0), work, 0, max_dist=1
        )
        append_linkage_masters(
            master.where(F.col("id") % 2 == 1), work, 1, max_dist=1
        )
        # redelivery of batch 0: must overwrite its own dir, not double
        append_linkage_masters(
            master.where(F.col("id") % 2 == 0), work, 0, max_dist=1
        )
        out = (
            link_batch(dirty, work)
            .groupBy("id_a")
            .agg(
                F.count("*").alias("n_cand"),
                F.min("dist").cast("int").alias("min_dist"),
                F.bool_or(F.col("id_b") == F.col("id_a")).alias("linked"),
            )
            .select(F.col("id_a").alias("id"), "n_cand", "min_dist", "linked")
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return out


@query(
    "q252_entity_resolution",
    """
    WITH RECURSIVE n AS (
        SELECT p_name AS s, count(*) AS cnt FROM part GROUP BY 1
    ), pairs AS (
        SELECT a.s AS sa, b.s AS sb
        FROM n a JOIN n b
          ON a.s < b.s
         AND abs(length(a.s) - length(b.s)) <= 1
         AND levenshtein(a.s, b.s) <= 1
    ), edges AS (
        SELECT sa AS src, sb AS dst FROM pairs
        UNION SELECT sb, sa FROM pairs
    ), reach(id, lab) AS (
        SELECT s, s FROM n
        UNION
        SELECT e.src, r.lab FROM edges e JOIN reach r ON e.dst = r.id
    ), comp AS (
        SELECT id AS s, min(lab) AS cluster_id FROM reach GROUP BY id
    ), canon AS (
        SELECT cluster_id, s AS canonical, n_entity FROM (
            SELECT c.cluster_id, c.s,
                   row_number() OVER (
                       PARTITION BY c.cluster_id
                       ORDER BY n.cnt DESC, c.s ASC
                   ) AS rn,
                   count(*) OVER (PARTITION BY c.cluster_id) AS n_entity
            FROM comp c JOIN n ON c.s = n.s
        ) WHERE rn = 1
    )
    SELECT p.p_partkey AS id,
           k.canonical AS canonical,
           CAST(k.n_entity AS BIGINT) AS n_entity
    FROM part p
    JOIN comp ON p.p_name = comp.s
    JOIN canon k ON comp.cluster_id = k.cluster_id
    """,
)
def q252_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENTITY RESOLUTION end-to-end: fuzzy pairs → components →
    canonical survivor (functions/dedup.py::edit_distance_join +
    duplicate_clusters — the full compose that record deduplication
    actually is). Distinct part names are the entity mentions; edges
    are names within one edit; connected components (min-label
    propagation, oracle-verified by a recursive-CTE transitive
    closure) group mention variants into entities; the survivor is
    the entity's most frequent name (count desc, name asc — the
    'keep the best-attested spelling' policy). Every part row maps to
    its canonical name plus its entity's mention count. Scale shape:
    the similarity join and CC run over DISTINCT names only (the
    exact-dedup tier), and the final mapping is two broadcast joins
    back onto the fact table."""
    from ..functions.dedup import duplicate_clusters, edit_distance_join

    parts = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("id"), F.col("p_name").alias("s")
    )
    names = parts.groupBy("s").agg(F.count("*").alias("cnt")).localCheckpoint()
    nn = names.select(F.col("s").alias("id"), "s")
    pairs = edit_distance_join(nn, nn, max_dist=1).where(
        F.col("id_a") < F.col("id_b")
    )
    clustered = duplicate_clusters(pairs, "id_a", "id_b").select(
        F.col("node_id").alias("s"), "cluster_id"
    )
    comp = (
        names.select("s")
        .join(clustered, "s", "left")
        .select(
            "s", F.coalesce("cluster_id", F.col("s")).alias("cluster_id")
        )
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("cnt").desc(), F.col("s").asc()
    )
    canon = (
        comp.join(names, "s")
        .withColumn("rn", F.row_number().over(w))
        .groupBy("cluster_id")
        .agg(
            F.min(F.when(F.col("rn") == 1, F.col("s"))).alias("canonical"),
            F.count("*").alias("n_entity"),
        )
    )
    return (
        parts.join(F.broadcast(comp), "s")
        .join(F.broadcast(canon), "cluster_id")
        .select("id", "canonical", F.col("n_entity").cast("long").alias("n_entity"))
    )


@query(
    "q253_forget_linkage",
    """
    WITH dirty AS (
        SELECT c_custkey AS did,
               CASE c_custkey % 3
                 WHEN 0 THEN substr(c_name, 1, 9 + c_custkey % 8)
                             || substr(c_name, 11 + c_custkey % 8)
                 WHEN 1 THEN substr(c_name, 1, 9 + c_custkey % 8)
                             || 'X' || substr(c_name, 11 + c_custkey % 8)
                 ELSE substr(c_name, 1, 10 + c_custkey % 8)
                      || 'Z' || substr(c_name, 11 + c_custkey % 8)
               END AS s
        FROM customer
    ), kept AS (
        SELECT c_custkey, c_name FROM customer WHERE c_custkey % 10 <> 3
    ), pairs AS (
        SELECT d.did, m.c_custkey AS mid,
               levenshtein(d.s, m.c_name) AS dist
        FROM dirty d JOIN kept m
          ON abs(length(d.s) - length(m.c_name)) <= 1
        WHERE levenshtein(d.s, m.c_name) <= 1
    )
    SELECT did AS id,
           count(*) AS n_cand,
           CAST(min(dist) AS INT) AS min_dist,
           bool_or(did = mid) AS linked
    FROM pairs GROUP BY did
    """,
)
def q253_forget_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten for the LINKAGE index
    (operators/linkage_state.py::forget_from_linkage_state, wired into
    erasure.py::forget_everywhere): after erasing every 10th master
    from the persisted variant index, the dirty feed must no longer
    link to the forgotten records — their own typo'd feed rows lose
    their exact-master link (pinned by an in-plan gate AND the
    oracle's ``linked`` column), while links to retained neighbouring
    masters survive untouched. The oracle restates erasure as linkage
    against ``customer WHERE c_custkey % 10 <> 3``, so the hash pins
    the erase to EXACTLY the requested rows — over-erasure (dropping
    a retained master's variants) and under-erasure (a forgotten
    master still linkable) both flip it. The doomed set enters as a
    DataFrame feed, anti-joined inside the versioned rewrite, never
    collected."""
    import shutil
    import tempfile

    from ..operators.linkage_state import (
        append_linkage_masters,
        forget_from_linkage_state,
        link_batch,
    )

    c = _t(spark, sf_dir, "customer")
    master = c.select(
        F.col("c_custkey").alias("id"), F.col("c_name").alias("s")
    )
    mode = F.col("c_custkey") % 3
    dirty = c.select(
        F.col("c_custkey").alias("id"),
        F.when(
            mode == 0,
            F.expr(
                "concat(substring(c_name, 1, 9 + c_custkey % 8),"
                " substring(c_name, 11 + c_custkey % 8))"
            ),
        )
        .when(
            mode == 1,
            F.expr(
                "concat(substring(c_name, 1, 9 + c_custkey % 8),"
                " 'X', substring(c_name, 11 + c_custkey % 8))"
            ),
        )
        .otherwise(
            F.expr(
                "concat(substring(c_name, 1, 10 + c_custkey % 8),"
                " 'Z', substring(c_name, 11 + c_custkey % 8))"
            )
        )
        .alias("s"),
    )
    work = tempfile.mkdtemp(prefix="ehs_linkage_q253_")
    try:
        append_linkage_masters(master, work, 0, max_dist=1)
        doomed = master.where(F.col("id") % 10 == 3).select("id")
        forget_from_linkage_state(spark, work, doomed)
        out = (
            link_batch(dirty, work)
            .groupBy("id_a")
            .agg(
                F.count("*").alias("n_cand"),
                F.min("dist").cast("int").alias("min_dist"),
                F.bool_or(F.col("id_b") == F.col("id_a")).alias("linked"),
            )
            .select(F.col("id_a").alias("id"), "n_cand", "min_dist", "linked")
            .localCheckpoint()
        )
        n_ghost = out.where((F.col("id") % 10 == 3) & F.col("linked")).count()
        if n_ghost:
            raise ValueError(
                f"erasure leak: {n_ghost} forgotten masters still linkable"
            )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return out


@query(
    "q254_stream_linkage",
    """
    WITH dirty AS (
        SELECT c_custkey AS did,
               CASE c_custkey % 3
                 WHEN 0 THEN substr(c_name, 1, 9 + c_custkey % 8)
                             || substr(c_name, 11 + c_custkey % 8)
                 WHEN 1 THEN substr(c_name, 1, 9 + c_custkey % 8)
                             || 'X' || substr(c_name, 11 + c_custkey % 8)
                 ELSE substr(c_name, 1, 10 + c_custkey % 8)
                      || 'Z' || substr(c_name, 11 + c_custkey % 8)
               END AS s
        FROM customer
    ), pairs AS (
        SELECT d.did, m.c_custkey AS mid,
               levenshtein(d.s, m.c_name) AS dist
        FROM dirty d JOIN customer m
          ON abs(length(d.s) - length(m.c_name)) <= 1
        WHERE levenshtein(d.s, m.c_name) <= 1
    )
    SELECT did AS id,
           count(*) AS n_cand,
           CAST(min(dist) AS INT) AS min_dist,
           bool_or(did = mid) AS linked,
           CAST(did % 2 AS INT) AS src_batch
    FROM pairs GROUP BY did
    """,
)
def q254_stream_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING record linkage (operators/linkage_state.py::
    streaming_link — the linkage family's continuous-ingest loop,
    same foreachBatch discipline as the streaming dedup modalities):
    the dirty feed arrives as two mtime-ordered files (custkey
    parity), each availableNow micro-batch links against the
    persisted master index, and its matches land under their own
    ``batch=<id>`` partition (a redelivered batch overwrites exactly
    its own rows — the result is deterministic because the index is
    read-only during linking). The oracle restates the drained union
    as ONE batch link over the whole feed WITH the micro-batch
    lineage attached (src_batch = custkey parity, the file routing),
    so the hash pins both the linkage values and which batch produced
    each row."""
    import glob as _glob
    import shutil
    import time

    from ..operators.linkage_state import (
        append_linkage_masters,
        streaming_link,
    )

    configure_session(spark)
    c = _t(spark, sf_dir, "customer")
    master = c.select(
        F.col("c_custkey").alias("id"), F.col("c_name").alias("s")
    )
    mode = F.col("c_custkey") % 3
    dirty = c.select(
        F.col("c_custkey").alias("id"),
        F.when(
            mode == 0,
            F.expr(
                "concat(substring(c_name, 1, 9 + c_custkey % 8),"
                " substring(c_name, 11 + c_custkey % 8))"
            ),
        )
        .when(
            mode == 1,
            F.expr(
                "concat(substring(c_name, 1, 9 + c_custkey % 8),"
                " 'X', substring(c_name, 11 + c_custkey % 8))"
            ),
        )
        .otherwise(
            F.expr(
                "concat(substring(c_name, 1, 10 + c_custkey % 8),"
                " 'Z', substring(c_name, 11 + c_custkey % 8))"
            )
        )
        .alias("s"),
    )
    work = tempfile.mkdtemp(prefix="ehs_linkage_q254_")
    feed = os.path.join(work, "feed")
    out_dir = os.path.join(work, "out")
    try:
        append_linkage_masters(master, os.path.join(work, "idx"), 0,
                               max_dist=1)
        parts_seen: set = set()
        t0 = time.time() - 1000
        for i in (0, 1):
            dirty.where(F.col("id") % 2 == i).coalesce(1).write.mode(
                "append" if i else "overwrite"
            ).parquet(feed)
            new = set(_glob.glob(os.path.join(feed, "part-*"))) - parts_seen
            for p in new:
                os.utime(p, (t0 + 100 * i, t0 + 100 * i))
            parts_seen |= new
        stream = (
            spark.readStream.schema(dirty.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )
        streaming_link(
            stream, os.path.join(work, "idx"), os.path.join(work, "ckpt"),
            out_dir,
        )
        out = (
            read_parquet_state(spark, out_dir)
            .groupBy("id_a")
            .agg(
                F.count("*").alias("n_cand"),
                F.min("dist").cast("int").alias("min_dist"),
                F.bool_or(F.col("id_b") == F.col("id_a")).alias("linked"),
                F.max("batch").cast("int").alias("src_batch"),
            )
            .select(
                F.col("id_a").alias("id"),
                "n_cand",
                "min_dist",
                "linked",
                "src_batch",
            )
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return out


@query(
    "q255_sssp",
    """
    WITH RECURSIVE n AS (
        SELECT count(*) AS n FROM customer
    ), e AS (
        SELECT c_custkey AS src, (3 * c_custkey + 1) % n.n AS dst,
               1 + c_custkey % 7 AS w
        FROM customer, n
        UNION ALL
        SELECT c_custkey, (5 * c_custkey + 2 + c_custkey % 11) % n.n,
               1 + c_custkey % 5
        FROM customer, n
    ), walk(node, dist, hops) AS (
        SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT), 0
        UNION ALL
        SELECT e.dst, w.dist + e.w, w.hops + 1
        FROM walk w JOIN e ON e.src = w.node
        WHERE w.hops < 10
    )
    SELECT node, min(dist) AS dist FROM walk GROUP BY node
    """,
)
def q255_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source SHORTEST PATHS, hop-bounded (functions/graph.py::
    shortest_paths — bounded Bellman-Ford as a DataFrame loop, the
    shortest-path member of the iterative family beside PageRank, CC,
    and k-means). The graph is a deterministic sparse expander over
    the customer keys (two NON-commuting affine out-edges per node — commuting maps
    would collapse the reachable set to O(hops^2) nodes — integer
    weights from key residues, restated verbatim in the oracle), so distances are
    exact integers and the ≤10-hop bound makes the recursive-CTE
    oracle's path enumeration finite (degree 2 → ≤2^11 paths) while
    the ENGINE never enumerates paths at all: one edges join + one
    min-aggregate per round, the relaxation shuffle pattern that
    scales to billion-edge graphs. Hop-bounding is also what makes
    min-dist recursion well-defined on a cyclic graph — both sides
    compute 'shortest distance using at most 10 edges'."""
    from ..functions.graph import shortest_paths

    c = _t(spark, sf_dir, "customer")
    n = c.count()
    k = F.col("c_custkey")
    e = c.select(
        k.alias("src"),
        ((3 * k + 1) % n).alias("dst"),
        (1 + k % 7).alias("w"),
    ).unionByName(
        c.select(
            k.alias("src"),
            ((5 * k + 2 + k % 11) % n).alias("dst"),
            (1 + k % 5).alias("w"),
        )
    )
    return shortest_paths(e, 0, max_hops=10).select("node", "dist")


@query(
    "q256_ivfpq_adaptive_nprobe",
    """
    WITH centers AS (
        SELECT vec_id AS cid, embedding AS cv FROM embeddings
        WHERE vec_id < 64
    ), c AS (
        SELECT e.vec_id,
               [ct.cv[j] + 0.1 * e.embedding[j]
                FOR j IN range(1, len(e.embedding)+1)] AS embedding,
               e.vec_id % 50 AS cat
        FROM embeddings e JOIN centers ct ON e.vec_id % 64 = ct.cid
    ), piv AS (
        SELECT vec_id AS list_id, embedding AS pivot FROM c
        WHERE vec_id % 3 <> 2
        ORDER BY vec_id LIMIT 16
    ), assign AS (
        SELECT vec_id, cat, list_id FROM (
            SELECT x.vec_id, x.cat, p.list_id,
                   row_number() OVER (
                       PARTITION BY x.vec_id
                       ORDER BY list_cosine_similarity(
                           x.embedding::DOUBLE[], p.pivot::DOUBLE[]) DESC,
                           p.list_id ASC
                   ) AS rn
            FROM c x, piv p
        ) WHERE rn = 1
    ), qlists AS (
        SELECT q.vec_id AS query_id, p.list_id,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(
                       q.embedding::DOUBLE[], p.pivot::DOUBLE[]) DESC,
                       p.list_id ASC
               ) AS lrank
        FROM c q, piv p WHERE q.vec_id % 20 = 10
    ), lvl AS (
        SELECT unnest([1, 2, 3, 4]) AS it, unnest([2, 4, 8, 16]) AS np
    ), cand AS (
        SELECT ql.query_id, l.it, l.np, count(a.vec_id) AS n_cand
        FROM qlists ql
        JOIN lvl l ON ql.lrank <= l.np
        LEFT JOIN assign a
          ON a.list_id = ql.list_id AND a.cat = 7
             AND a.vec_id <> ql.query_id
        GROUP BY ql.query_id, l.it, l.np
    ), pick AS (
        SELECT query_id,
               coalesce(min(it) FILTER (n_cand >= 20), 4) AS n_iters
        FROM cand GROUP BY query_id
    )
    SELECT query_id, CAST(n_iters AS INT) AS n_iters,
           CAST(CASE n_iters WHEN 1 THEN 2 WHEN 2 THEN 4
                WHEN 3 THEN 8 ELSE 16 END AS INT) AS nprobe_used,
           true AS recall_ok
    FROM pick
    """,
)
def q256_ivfpq_adaptive_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADAPTIVE probe widening COMPOSED onto the IVFPQ path
    (functions/ivfpq.py::query_ivfpq_index_adaptive — VERDICT r8 #3:
    q245 built the widening loop for the float IVF index; the
    production codes-only index still took a fixed nprobe). Full
    lifecycle on the q243/q245 clustered corpus: build a
    COVERING index (attr_cols=['cat'] — the 1/50 attribute rides the
    code rows, so the filter applies inside the pruned scan with no
    row-store join) on the %3!=2 slice, append the %3==2 slice as
    ingest batch 1, COMPACT at watermark 1, then run the two-tier
    adaptive probe: each query widens from nprobe0=2 by doubling until
    its filtered k x 4 ADC shortlist fills or the probe covers all 16
    lists, and the final shortlist re-ranks by EXACT cosine against
    the float row store (_refine_rerank — quantization error costs
    recall only, never final ordering). The oracle restates the
    widening schedule per query from first principles — frozen-pivot
    assignment of every corpus row (append/compact don't change
    assignment: that IS the frozen contract), per-query list ranking,
    first doubling level with >= 20 filtered candidates in the probed
    prefix — so a wrong stopping decision (too eager OR too lazy)
    breaks the hash. In-plan gates: recall@5 >= 0.8 vs the exact
    filtered brute force (measured 1.0 at sf0.01), and the loop must
    actually widen (max n_iters >= 2)."""
    from ..functions.ivfpq import (
        append_ivfpq_index,
        build_ivfpq_index,
        compact_ivfpq_ingest,
        query_ivfpq_index_adaptive,
    )
    from ..functions.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    centers = emb.where(F.col("vec_id") < 64).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    e = (
        emb.withColumn("cid", F.pmod("vec_id", F.lit(64)))
        .join(F.broadcast(centers), "cid")
        .select(
            "vec_id",
            F.zip_with(
                "cv", "embedding", lambda c, x: c + F.lit(0.1) * x
            ).alias("embedding"),
            F.pmod("vec_id", F.lit(50)).alias("cat"),
        )
        .localCheckpoint()
    )
    import shutil

    q = e.where(F.col("vec_id") % 20 == 10)
    work = tempfile.mkdtemp(prefix="ehs_ivfpq_adapt_")
    idx = os.path.join(work, "idx")
    try:
        build_ivfpq_index(
            e.where(F.col("vec_id") % 3 != 2),
            idx,
            nlist=16,
            m_sub=4,
            k_codes=8,
            attr_cols=["cat"],
        )
        append_ivfpq_index(
            e.where(F.col("vec_id") % 3 == 2), idx, batch_id=1
        )
        compact_ivfpq_ingest(spark, idx, watermark=1)
        out = query_ivfpq_index_adaptive(
            spark,
            idx,
            q,
            k=5,
            nprobe0=2,
            attr_filter=F.col("cat") == 7,
            oversample=4,
            refine=e.select("vec_id", "embedding"),
        ).localCheckpoint()
    finally:
        # out is checkpointed — the index dir is no longer referenced
        shutil.rmtree(work, ignore_errors=True)
    bf = brute_force_topk(q, e.where(F.col("cat") == 7), k=5)
    n_truth = bf.count()
    n_hits = bf.join(
        out.select("query_id", "neighbor_id"),
        ["query_id", "neighbor_id"],
        "left_semi",
    ).count()
    recall_ok = bool(n_truth > 0 and n_hits / n_truth >= 0.8)
    widened = out.agg(F.max("n_iters").alias("m")).first()["m"]
    if not recall_ok or widened < 2:
        raise ValueError(
            f"ivfpq adaptive probe failed: recall={n_hits}/{n_truth}, "
            f"max_iters={widened}"
        )
    return (
        out.groupBy("query_id")
        .agg(
            F.max("n_iters").cast("int").alias("n_iters"),
            F.max("nprobe_used").cast("int").alias("nprobe_used"),
        )
        .select(
            "query_id",
            "n_iters",
            "nprobe_used",
            F.lit(recall_ok).alias("recall_ok"),
        )
    )


@query(
    "q257_match_scoring",
    """
    WITH dirty AS (
        SELECT c_custkey AS did,
               CASE c_custkey % 3
                 WHEN 0 THEN substr(c_name, 1, 9 + c_custkey % 8)
                             || substr(c_name, 11 + c_custkey % 8)
                 WHEN 1 THEN substr(c_name, 1, 9 + c_custkey % 8)
                             || 'X' || substr(c_name, 11 + c_custkey % 8)
                 ELSE substr(c_name, 1, 10 + c_custkey % 8)
                      || 'Z' || substr(c_name, 11 + c_custkey % 8)
               END AS s
        FROM customer
    ), feat AS (
        SELECT d.did AS id_a, m.c_custkey AS id_b,
               CAST(CAST(a.c_nationkey = m.c_nationkey AS INT)
                    AS DOUBLE) AS x1,
               CAST(CAST(a.c_mktsegment = m.c_mktsegment AS INT)
                    AS DOUBLE) AS x2,
               CAST(d.did = m.c_custkey AS INT) AS y
        FROM dirty d
        JOIN customer m
          ON abs(length(d.s) - length(m.c_name)) <= 1
         AND levenshtein(d.s, m.c_name) <= 1
        JOIN customer a ON d.did = a.c_custkey
    ), r1 AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               sum(CAST(0.5 - y AS DECIMAL(30,10))) AS gb,
               sum(CAST((0.5 - y) * x1 AS DECIMAL(30,10))) AS g1,
               sum(CAST((0.5 - y) * x2 AS DECIMAL(30,10))) AS g2
        FROM feat
    ), p1 AS (
        SELECT n,
               CAST(round(CAST(0.0 - ((0.5 * CAST(gb AS DOUBLE)) / n)
                    AS DECIMAL(30,10)), 6) AS DOUBLE) AS b1,
               CAST(round(CAST(0.0 - ((0.5 * CAST(g1 AS DOUBLE)) / n)
                    AS DECIMAL(30,10)), 6) AS DOUBLE) AS w11,
               CAST(round(CAST(0.0 - ((0.5 * CAST(g2 AS DOUBLE)) / n)
                    AS DECIMAL(30,10)), 6) AS DOUBLE) AS w12
        FROM r1
    ), r2 AS (
        SELECT sum(CAST(
                   (1.0 / (1.0 + exp(-(b1 + w11 * x1 + w12 * x2))) - y)
                   AS DECIMAL(30,10))) AS gb,
               sum(CAST(
                   ((1.0 / (1.0 + exp(-(b1 + w11 * x1 + w12 * x2))) - y)
                    * x1) AS DECIMAL(30,10))) AS g1,
               sum(CAST(
                   ((1.0 / (1.0 + exp(-(b1 + w11 * x1 + w12 * x2))) - y)
                    * x2) AS DECIMAL(30,10))) AS g2
        FROM feat, p1
    ), p2 AS (
        SELECT CAST(round(CAST(b1 - ((0.5 * CAST(gb AS DOUBLE)) / n)
                    AS DECIMAL(30,10)), 6) AS DOUBLE) AS b,
               CAST(round(CAST(w11 - ((0.5 * CAST(g1 AS DOUBLE)) / n)
                    AS DECIMAL(30,10)), 6) AS DOUBLE) AS w1,
               CAST(round(CAST(w12 - ((0.5 * CAST(g2 AS DOUBLE)) / n)
                    AS DECIMAL(30,10)), 6) AS DOUBLE) AS w2
        FROM r2, p1
    ), scored AS (
        SELECT f.id_a, f.id_b, f.x1, f.x2, f.y,
               CAST(round(CAST(
                   1.0 / (1.0 + exp(-(p2.b + p2.w1 * f.x1 + p2.w2 * f.x2)))
                   AS DECIMAL(30,10)), 6) AS DOUBLE) AS score
        FROM feat f, p2
    )
    SELECT id_a, id_b, x1, x2, score, score >= 0.5 AS is_match
    FROM scored
    """,
)
def q257_match_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CALIBRATED MATCH SCORING for record linkage (VERDICT r8 #6's
    scoring half): the edit-distance join proposes candidate pairs
    (q250's planted-typo dirty feed vs the master list), and a match
    probability is LEARNED in-engine — functions/calibrate.py::
    logit_train over exact-field AGREEMENT features (nation-key and
    market-segment equality: a true link agrees on both by
    construction, a wrong-master candidate only by chance), labeled
    by the construction's known truth (id_a = id_b), then every pair
    scores through logit_score's literal-weight sigmoid projection
    (one scan, zero joins — the shape that scores 100 TB of candidate
    pairs). Everything is hash-verifiable: training gradients are
    exact decimal sums (q237's discipline), weights go through the
    _round6_py two-step, scores 6dp-round, and the oracle restates
    the pair generation, BOTH unrolled GD rounds, and the scoring
    expression. In-plan gates pin the learned model's sanity: the
    nation weight (1/25 chance-agreement base rate — strongly
    informative at any SF) must come out POSITIVE, and the COMBINED
    full-agreement effect w1+w2 must be positive (score(1,1) >
    score(0,0)). The segment weight alone is deliberately NOT gated:
    at a 1/5 base agreement rate and 2 GD steps from zero, its sign
    tracks true-pair prevalence (positive at sf0.01 where 21% of
    candidates are true links, marginally negative at sf0.1 where
    denser keys dilute prevalence below ~1/6) — real logistic-
    regression behavior on a weak feature, not divergence. (Strict
    pairwise separation is NOT a valid gate either: ~1/125 of false
    candidates coincidentally agree on BOTH fields and legitimately
    tie the true pairs' score — exactly why production linkage
    thresholds a calibrated probability instead of trusting any one
    feature.)"""
    from ..functions.calibrate import logit_score, logit_train
    from ..functions.dedup import edit_distance_join

    c = _t(spark, sf_dir, "customer")
    mode = F.col("c_custkey") % 3
    dirty = c.select(
        F.col("c_custkey").alias("id"),
        F.when(
            mode == 0,
            F.expr(
                "concat(substring(c_name, 1, 9 + c_custkey % 8),"
                " substring(c_name, 11 + c_custkey % 8))"
            ),
        )
        .when(
            mode == 1,
            F.expr(
                "concat(substring(c_name, 1, 9 + c_custkey % 8),"
                " 'X', substring(c_name, 11 + c_custkey % 8))"
            ),
        )
        .otherwise(
            F.expr(
                "concat(substring(c_name, 1, 10 + c_custkey % 8),"
                " 'Z', substring(c_name, 11 + c_custkey % 8))"
            )
        )
        .alias("s"),
    )
    master = c.select(
        F.col("c_custkey").alias("id"), F.col("c_name").alias("s")
    )
    pairs = edit_distance_join(dirty, master, max_dist=1)
    attrs_a = c.select(
        F.col("c_custkey").alias("id_a"),
        F.col("c_nationkey").alias("nat_a"),
        F.col("c_mktsegment").alias("seg_a"),
    )
    attrs_b = c.select(
        F.col("c_custkey").alias("id_b"),
        F.col("c_nationkey").alias("nat_b"),
        F.col("c_mktsegment").alias("seg_b"),
    )
    feat = (
        pairs.join(attrs_a, "id_a")
        .join(attrs_b, "id_b")
        .select(
            "id_a",
            "id_b",
            (F.col("nat_a") == F.col("nat_b")).cast("int").cast(
                "double"
            ).alias("x1"),
            (F.col("seg_a") == F.col("seg_b")).cast("int").cast(
                "double"
            ).alias("x2"),
            (F.col("id_a") == F.col("id_b")).cast("int").alias("y"),
        )
        .localCheckpoint()  # pairs feed training AND scoring
    )
    w = logit_train(feat, ["x1", "x2"], "y", rounds=2, lr=0.5)
    wm = {r["term"]: float(r["weight"]) for r in w.collect()}
    if wm["x1"] <= 0 or wm["x1"] + wm["x2"] <= 0:
        raise ValueError(
            f"match scoring learned non-positive agreement effect: {wm}"
        )
    scored = logit_score(feat, w, ["x1", "x2"]).localCheckpoint()
    # full agreement must outscore no agreement (monotone model)
    bounds = scored.agg(
        F.min(
            F.when((F.col("x1") == 1) & (F.col("x2") == 1), F.col("score"))
        ).alias("hi"),
        F.max(
            F.when((F.col("x1") == 0) & (F.col("x2") == 0), F.col("score"))
        ).alias("lo"),
    ).first()
    if bounds["lo"] is not None and bounds["hi"] <= bounds["lo"]:
        raise ValueError(
            f"match scoring not monotone in agreement: "
            f"score(1,1)={bounds['hi']} <= score(0,0)={bounds['lo']}"
        )
    return scored.select(
        "id_a",
        "id_b",
        "x1",
        "x2",
        "score",
        (F.col("score") >= 0.5).alias("is_match"),
    )


@query(
    "q258_golden_records",
    """
    WITH recs AS (
        SELECT c_custkey AS ck, c_custkey * 3 AS rid, 'crm' AS src,
               1 AS prio, c_custkey % 2 AS v,
               CASE WHEN c_custkey % 3 <> 0
                    THEN 'C-' || substr(c_name, 10) END AS phone,
               CASE WHEN c_custkey % 2 <> 0 THEN c_acctbal END AS bal
        FROM customer
        UNION ALL
        SELECT c_custkey, c_custkey * 3 + 1, 'web',
               2, (c_custkey + 1) % 2,
               'W-' || substr(c_name, 10),
               CASE WHEN c_custkey % 7 <> 0 THEN c_acctbal + 100 END
        FROM customer
        UNION ALL
        SELECT c_custkey, c_custkey * 3 + 2, 'app',
               3, c_custkey % 2,
               CASE WHEN c_custkey % 5 <> 0
                    THEN 'A-' || substr(c_name, 10) END,
               c_acctbal + 200
        FROM customer
    ), ph AS (
        SELECT ck, phone, rid, src FROM (
            SELECT ck, phone, rid, src,
                   row_number() OVER (
                       PARTITION BY ck
                       ORDER BY v DESC, prio ASC, rid ASC
                   ) AS rn
            FROM recs WHERE phone IS NOT NULL
        ) WHERE rn = 1
    ), bl AS (
        SELECT ck, bal, rid, src FROM (
            SELECT ck, bal, rid, src,
                   row_number() OVER (
                       PARTITION BY ck
                       ORDER BY v DESC, prio ASC, rid ASC
                   ) AS rn
            FROM recs WHERE bal IS NOT NULL
        ) WHERE rn = 1
    ), n AS (
        SELECT ck, count(*) AS n_records FROM recs GROUP BY ck
    )
    SELECT n.ck AS cluster_id, n.n_records,
           ph.phone, ph.rid AS phone__src_id, ph.src AS phone__source,
           bl.bal, bl.rid AS bal__src_id, bl.src AS bal__source
    FROM n
    LEFT JOIN ph ON n.ck = ph.ck
    LEFT JOIN bl ON n.ck = bl.ck
    """,
)
def q258_golden_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GOLDEN RECORDS with per-field provenance (operators/
    survivorship.py::golden_records — VERDICT r8 #6's survivorship
    half): q252 picks one canonical ROW per entity; production MDM
    survives each ATTRIBUTE independently. Three deterministic source
    systems per customer (crm/web/app: source-prefixed phone strings
    so the surviving value PROVES its provenance, shifted balances,
    planted per-source nulls, and version numbers built to TIE on
    every row — crm and app always share v, so the source-priority
    tie-break is exercised everywhere, and the all-three-distinct
    case never hides it). The engine runs ONE groupBy with a max_by
    payload-struct aggregate per field (no windows, no per-field
    shuffles — a single partial-aggregatable pass at 100 TB); the
    oracle restates the policy as per-field row_number picks over
    (version desc, priority asc, record id asc). Output per entity:
    each field's survivor plus the record id and source that supplied
    it."""
    from ..operators.survivorship import golden_records

    c = _t(spark, sf_dir, "customer")
    ck = F.col("c_custkey")
    digits = F.expr("substring(c_name, 10)")
    crm = c.select(
        ck.alias("ck"),
        (ck * 3).alias("rid"),
        F.lit("crm").alias("src"),
        (ck % 2).alias("v"),
        F.when(ck % 3 != 0, F.concat(F.lit("C-"), digits)).alias("phone"),
        F.when(ck % 2 != 0, F.col("c_acctbal")).alias("bal"),
    )
    web = c.select(
        ck.alias("ck"),
        (ck * 3 + 1).alias("rid"),
        F.lit("web").alias("src"),
        ((ck + 1) % 2).alias("v"),
        F.concat(F.lit("W-"), digits).alias("phone"),
        F.when(ck % 7 != 0, F.col("c_acctbal") + 100).alias("bal"),
    )
    app = c.select(
        ck.alias("ck"),
        (ck * 3 + 2).alias("rid"),
        F.lit("app").alias("src"),
        (ck % 2).alias("v"),
        F.when(ck % 5 != 0, F.concat(F.lit("A-"), digits)).alias("phone"),
        (F.col("c_acctbal") + 200).alias("bal"),
    )
    recs = crm.unionByName(web).unionByName(app)
    return golden_records(
        recs,
        "ck",
        "rid",
        ["phone", "bal"],
        "v",
        "src",
        {"crm": 1, "web": 2, "app": 3},
    )


@query(
    "q259_opq_ivfpq",
    """
    WITH corpus AS (
        SELECT vec_id,
               [CASE WHEN j <= 8 THEN 6.0 WHEN j <= 16 THEN 3.0
                     ELSE 1.0 END * embedding[j]
                FOR j IN range(1, len(embedding)+1)] AS v
        FROM embeddings
    ), bf AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(
                       q.v::DOUBLE[], c.v::DOUBLE[]) DESC,
                       c.vec_id ASC
               ) AS rank
        FROM corpus q JOIN corpus c ON q.vec_id <> c.vec_id
        WHERE q.vec_id % 20 = 10
    ), stats AS (
        SELECT count(DISTINCT query_id) AS n_queries,
               CAST(count(*) FILTER (rank <= 5) AS BIGINT) AS n_truth
        FROM bf
    )
    SELECT 'raw' AS variant, n_queries, n_truth,
           true AS recall_ok, true AS gap_ok
    FROM stats
    UNION ALL
    SELECT 'opq', n_queries, n_truth, true, true
    FROM stats
    """,
)
def q259_opq_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ COMPOSED into the persisted IVFPQ index
    (functions/ivfpq.py::build_ivfpq_index(opq=True) — VERDICT r8 #5:
    q248 trained the rotation standalone; here it layers in front of
    the production index the way FAISS factories spell
    ``OPQ8,IVF8,PQ8x4``). On q248's anisotropic construction (dims
    1-8 x6, 9-16 x3 — the PCA'd-embedding shape that collapses
    position-split PQ), TWO indexes build at identical budgets
    (nlist=8, m=8, k=16): raw and OPQ-rotated. The rotation trains
    driver-side on a bounded deterministic sample, persists as the
    frozen ``_rotation`` sidecar, rotates the corpus in ONE
    Arrow-batched gemm scan (pivots, codebooks, codes all live in
    rotated space), the APPEND path re-rotates batches with the SAME
    matrix (append-equivalence hash pinned in tests/test_ivfpq_opq),
    and probes rotate the bounded query side driver-side —
    partition pruning, the ingest-batch ledger, and the two-tier
    refine contract are all unchanged. Orthogonality preserves
    cosine, so both variants chase the SAME truth set (restated by
    the oracle) and the recall delta is pure quantization quality.
    In-plan gates (measured recall@5 raw/opq: 0.144/0.264 at sf0.001,
    0.160/0.408 at sf0.01, 0.052/0.160 at sf0.1 — deterministic per
    dataset, so the margins cannot flake): OPQ must beat raw by
    >= 0.08 of truth, and OPQ recall must be >= 0.12."""
    from ..functions.ivfpq import build_ivfpq_index, query_ivfpq_index
    from ..functions.similarity import brute_force_topk

    e = (
        _t(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            F.expr(
                "transform(embedding, (x, j) -> CASE WHEN j < 8 THEN"
                " 6.0*x WHEN j < 16 THEN 3.0*x ELSE x END)"
            ).alias("embedding"),
        )
        .localCheckpoint()
    )
    q = e.where(F.col("vec_id") % 20 == 10)
    bf = brute_force_topk(q, e, k=5).localCheckpoint()
    n_truth = bf.count()
    n_queries = q.count()

    def recall(opq: bool) -> float:
        import shutil

        work = tempfile.mkdtemp(prefix="ehs_opq_ivfpq_")
        try:
            build_ivfpq_index(
                e, work, nlist=8, m_sub=8, k_codes=16, opq=opq
            )
            out = query_ivfpq_index(spark, work, q, k=5, nprobe=8)
            hits = bf.join(
                out.select("query_id", "neighbor_id"),
                ["query_id", "neighbor_id"],
                "left_semi",
            ).count()
        finally:
            shutil.rmtree(work, ignore_errors=True)
        return hits / n_truth

    r_raw = recall(False)
    r_opq = recall(True)
    recall_ok = bool(r_opq >= 0.12)
    gap_ok = bool(r_opq >= r_raw + 0.08)
    if not (recall_ok and gap_ok):
        raise ValueError(
            f"OPQ-IVFPQ gate failed: raw={r_raw:.3f} opq={r_opq:.3f}"
        )
    from ..functions.util import literal_frame

    return literal_frame(
        spark,
        [
            ("raw", n_queries, n_truth, recall_ok, gap_ok),
            ("opq", n_queries, n_truth, recall_ok, gap_ok),
        ],
        "variant string, n_queries bigint, n_truth bigint, "
        "recall_ok boolean, gap_ok boolean",
    )


@query(
    "q260_sssp_decimal",
    """
    WITH RECURSIVE n AS (
        SELECT count(*) AS n FROM customer
    ), e AS (
        SELECT c_custkey AS src, (3 * c_custkey + 1) % n.n AS dst,
               CAST((1 + c_custkey % 7) AS DECIMAL(10,1)) / 2 AS w
        FROM customer, n
        UNION ALL
        SELECT c_custkey, (5 * c_custkey + 2 + c_custkey % 11) % n.n,
               CAST((1 + c_custkey % 5) AS DECIMAL(10,1)) / 2
        FROM customer, n
    ), walk(node, dist, hops) AS (
        SELECT CAST(0 AS BIGINT), CAST(0.0 AS DECIMAL(38,1)), 0
        UNION ALL
        SELECT e.dst, CAST(w.dist + e.w AS DECIMAL(38,1)), w.hops + 1
        FROM walk w JOIN e ON e.src = w.node
        WHERE w.hops < 10
    )
    SELECT node, CAST(min(dist) AS DOUBLE) AS dist
    FROM walk GROUP BY node
    """,
)
def q260_sssp_decimal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shortest paths with FRACTIONAL DECIMAL weights (functions/
    graph.py::shortest_paths — the r8 verdict's weight-fidelity fix
    made a declared gate): q255's expander graph with half-integer
    decimal(10,1) weights ((1 + key residue) / 2 — every edge cost a
    multiple of 0.5). The relaxation now carries the weight column's
    OWN arithmetic — decimal sums accumulate EXACTLY as decimal(38,1)
    (the pre-fix cast-to-long silently floored 1.5 to 1 and produced
    wrong distances); float/double weights are rejected outright. The
    oracle restates the same ≤10-hop recursive walk in decimal and
    both sides cast the exact result to double only at the output
    boundary (0.5 multiples are exact doubles). Integer behavior is
    unchanged — q255's hash is the guard."""
    from ..functions.graph import shortest_paths

    c = _t(spark, sf_dir, "customer")
    n = c.count()
    k = F.col("c_custkey")
    e = c.select(
        k.alias("src"),
        ((3 * k + 1) % n).alias("dst"),
        (
            (1 + k % 7).cast("decimal(10,1)") / F.lit(2)
        ).cast("decimal(10,1)").alias("w"),
    ).unionByName(
        c.select(
            k.alias("src"),
            ((5 * k + 2 + k % 11) % n).alias("dst"),
            (
                (1 + k % 5).cast("decimal(10,1)") / F.lit(2)
            ).cast("decimal(10,1)").alias("w"),
        )
    )
    return shortest_paths(e, 0, max_hops=10).select(
        "node", F.col("dist").cast("double").alias("dist")
    )


@query(
    "q261_mdm_pipeline",
    """
    WITH dirty AS (
        SELECT c_custkey AS did,
               CASE c_custkey % 3
                 WHEN 0 THEN substr(c_name, 1, 9 + c_custkey % 8)
                             || substr(c_name, 11 + c_custkey % 8)
                 WHEN 1 THEN substr(c_name, 1, 9 + c_custkey % 8)
                             || 'X' || substr(c_name, 11 + c_custkey % 8)
                 ELSE substr(c_name, 1, 10 + c_custkey % 8)
                      || 'Z' || substr(c_name, 11 + c_custkey % 8)
               END AS s
        FROM customer
    ), assigned AS (
        SELECT did, mid FROM (
            SELECT d.did, m.c_custkey AS mid,
                   row_number() OVER (
                       PARTITION BY d.did
                       ORDER BY levenshtein(d.s, m.c_name) ASC,
                                m.c_custkey ASC
                   ) AS rn
            FROM dirty d
            JOIN customer m
              ON abs(length(d.s) - length(m.c_name)) <= 1
             AND levenshtein(d.s, m.c_name) <= 1
            JOIN customer a ON d.did = a.c_custkey
            WHERE a.c_nationkey = m.c_nationkey
              AND a.c_mktsegment = m.c_mktsegment
        ) WHERE rn = 1
    ), recs AS (
        SELECT c_custkey AS entity, c_custkey * 2 AS rid, 'crm' AS src,
               1 AS prio, c_custkey % 3 AS v,
               CASE WHEN c_custkey % 4 <> 0
                    THEN 'C-' || substr(c_name, 10) END AS phone,
               CASE WHEN c_custkey % 3 <> 0 THEN c_acctbal END AS bal
        FROM customer
        UNION ALL
        SELECT asg.mid, w.c_custkey * 2 + 1, 'web',
               2, (w.c_custkey + 1) % 3,
               'W-' || substr(w.c_name, 10),
               CASE WHEN w.c_custkey % 5 <> 0 THEN w.c_acctbal + 50 END
        FROM assigned asg JOIN customer w ON asg.did = w.c_custkey
    ), ph AS (
        SELECT entity, phone, rid, src FROM (
            SELECT entity, phone, rid, src,
                   row_number() OVER (
                       PARTITION BY entity
                       ORDER BY v DESC, prio ASC, rid ASC
                   ) AS rn
            FROM recs WHERE phone IS NOT NULL
        ) WHERE rn = 1
    ), bl AS (
        SELECT entity, bal, rid, src FROM (
            SELECT entity, bal, rid, src,
                   row_number() OVER (
                       PARTITION BY entity
                       ORDER BY v DESC, prio ASC, rid ASC
                   ) AS rn
            FROM recs WHERE bal IS NOT NULL
        ) WHERE rn = 1
    ), n AS (
        SELECT entity, count(*) AS n_records FROM recs GROUP BY entity
    )
    SELECT n.entity AS cluster_id, n.n_records,
           ph.phone, ph.rid AS phone__src_id, ph.src AS phone__source,
           bl.bal, bl.rid AS bal__src_id, bl.src AS bal__source
    FROM n
    LEFT JOIN ph ON n.entity = ph.entity
    LEFT JOIN bl ON n.entity = bl.entity
    """,
)
def q261_mdm_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MDM pipeline END-TO-END — match, assign, survive — the
    compose every production linkage deployment actually runs, built
    entirely from this suite's verified pieces: the dirty feed (q250's
    planted-typo construction) links against the master list through
    edit_distance_join (candidate pruning via deletion variants, never
    a nested loop), candidates must AGREE on nation and market segment
    (the exact-field features q257's calibration showed positive),
    each feed record is ASSIGNED to its best master (min distance,
    master id tie-break — a window argmin, deterministic total order;
    assignment-not-clustering is the shape of feed-vs-master linkage,
    vs q252's peer-to-peer CC), and golden_records (q258's operator)
    survives each field across the entity's crm + assigned web records
    with full per-field provenance. The oracle restates every stage —
    typo construction, agreement-filtered pairs, argmin assignment,
    survivorship row_number picks. Scale shape: ED-join candidates are
    equi-join generated, the argmin is one window over candidates (not
    corpus), and survivorship is one partial-aggregatable groupBy."""
    from ..functions.dedup import edit_distance_join
    from ..operators.survivorship import golden_records

    c = _t(spark, sf_dir, "customer")
    ck = F.col("c_custkey")
    digits = F.expr("substring(c_name, 10)")
    mode = ck % 3
    dirty = c.select(
        ck.alias("id"),
        F.when(
            mode == 0,
            F.expr(
                "concat(substring(c_name, 1, 9 + c_custkey % 8),"
                " substring(c_name, 11 + c_custkey % 8))"
            ),
        )
        .when(
            mode == 1,
            F.expr(
                "concat(substring(c_name, 1, 9 + c_custkey % 8),"
                " 'X', substring(c_name, 11 + c_custkey % 8))"
            ),
        )
        .otherwise(
            F.expr(
                "concat(substring(c_name, 1, 10 + c_custkey % 8),"
                " 'Z', substring(c_name, 11 + c_custkey % 8))"
            )
        )
        .alias("s"),
    )
    master = c.select(ck.alias("id"), F.col("c_name").alias("s"))
    attrs = c.select(
        ck.alias("aid"),
        F.col("c_nationkey").alias("nat"),
        F.col("c_mktsegment").alias("seg"),
    )
    pairs = (
        edit_distance_join(dirty, master, max_dist=1)
        .join(
            attrs.select(
                F.col("aid").alias("id_a"),
                F.col("nat").alias("nat_a"),
                F.col("seg").alias("seg_a"),
            ),
            "id_a",
        )
        .join(
            attrs.select(
                F.col("aid").alias("id_b"),
                F.col("nat").alias("nat_b"),
                F.col("seg").alias("seg_b"),
            ),
            "id_b",
        )
        .where(
            (F.col("nat_a") == F.col("nat_b"))
            & (F.col("seg_a") == F.col("seg_b"))
        )
    )
    w = Window.partitionBy("id_a").orderBy(
        F.col("dist").asc(), F.col("id_b").asc()
    )
    assigned = (
        pairs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(F.col("id_a").alias("did"), F.col("id_b").alias("mid"))
    )
    crm = c.select(
        ck.alias("entity"),
        (ck * 2).alias("rid"),
        F.lit("crm").alias("src"),
        (ck % 3).alias("v"),
        F.when(ck % 4 != 0, F.concat(F.lit("C-"), digits)).alias("phone"),
        F.when(ck % 3 != 0, F.col("c_acctbal")).alias("bal"),
    )
    web = (
        assigned.join(c, assigned["did"] == c["c_custkey"])
        .select(
            F.col("mid").alias("entity"),
            (ck * 2 + 1).alias("rid"),
            F.lit("web").alias("src"),
            ((ck + 1) % 3).alias("v"),
            F.concat(F.lit("W-"), digits).alias("phone"),
            F.when(ck % 5 != 0, F.col("c_acctbal") + 50).alias("bal"),
        )
    )
    recs = crm.unionByName(web)
    return golden_records(
        recs,
        "entity",
        "rid",
        ["phone", "bal"],
        "v",
        "src",
        {"crm": 1, "web": 2},
    )


@query(
    "q262_incremental_golden",
    """
    WITH recs AS (
        SELECT c_custkey AS ck, c_custkey * 3 AS rid, 'crm' AS src,
               1 AS prio, c_custkey % 2 AS v,
               CASE WHEN c_custkey % 3 <> 0
                    THEN 'C-' || substr(c_name, 10) END AS phone,
               CASE WHEN c_custkey % 2 <> 0 THEN c_acctbal END AS bal
        FROM customer
        UNION ALL
        SELECT c_custkey, c_custkey * 3 + 1, 'web',
               2, (c_custkey + 1) % 2,
               'W-' || substr(c_name, 10),
               CASE WHEN c_custkey % 7 <> 0 THEN c_acctbal + 100 END
        FROM customer
        UNION ALL
        SELECT c_custkey, c_custkey * 3 + 2, 'app',
               3, c_custkey % 2,
               CASE WHEN c_custkey % 5 <> 0
                    THEN 'A-' || substr(c_name, 10) END,
               c_acctbal + 200
        FROM customer
    ), ph AS (
        SELECT ck, phone, rid, src FROM (
            SELECT ck, phone, rid, src,
                   row_number() OVER (
                       PARTITION BY ck
                       ORDER BY v DESC, prio ASC, rid ASC
                   ) AS rn
            FROM recs WHERE phone IS NOT NULL
        ) WHERE rn = 1
    ), bl AS (
        SELECT ck, bal, rid, src FROM (
            SELECT ck, bal, rid, src,
                   row_number() OVER (
                       PARTITION BY ck
                       ORDER BY v DESC, prio ASC, rid ASC
                   ) AS rn
            FROM recs WHERE bal IS NOT NULL
        ) WHERE rn = 1
    ), n AS (
        SELECT ck, count(*) AS n_records FROM recs GROUP BY ck
    )
    SELECT n.ck AS cluster_id, n.n_records,
           ph.phone, ph.rid AS phone__src_id, ph.src AS phone__source,
           bl.bal, bl.rid AS bal__src_id, bl.src AS bal__source
    FROM n
    LEFT JOIN ph ON n.ck = ph.ck
    LEFT JOIN bl ON n.ck = bl.ck
    """,
)
def q262_incremental_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL golden-record state (operators/survivorship_state
    .py::golden_incremental) — survivorship as PERSISTED MERGEABLE
    state: the per-field winner under the (version desc, priority asc,
    id asc) TOTAL order is an associative argmax, so each batch folds
    as one aggregate pass over the batch plus one outer join against
    one-row-per-entity state, never a history re-scan. q258's
    three-source construction arrives as THREE record batches (split
    by rid % 3 — every entity's records are spread across batches, so
    cross-batch merging decides every winner), the state is read back,
    and the oracle is q258's FULL-RECOMPUTE survivorship restatement —
    merge-equals-recompute is the gate. In-plan: the LAST batch is
    REPLAYED (v2 recomputes from v1 + batch 2 into the same versioned
    dir — the dedup_state idempotence convention) and the state must
    be row-identical; a loud check fails otherwise."""
    from ..operators.survivorship_state import (
        golden_incremental,
        read_golden_state,
    )

    c = _t(spark, sf_dir, "customer")
    ck = F.col("c_custkey")
    digits = F.expr("substring(c_name, 10)")
    crm = c.select(
        ck.alias("ck"),
        (ck * 3).alias("rid"),
        F.lit("crm").alias("src"),
        (ck % 2).alias("v"),
        F.when(ck % 3 != 0, F.concat(F.lit("C-"), digits)).alias("phone"),
        F.when(ck % 2 != 0, F.col("c_acctbal")).alias("bal"),
    )
    web = c.select(
        ck.alias("ck"),
        (ck * 3 + 1).alias("rid"),
        F.lit("web").alias("src"),
        ((ck + 1) % 2).alias("v"),
        F.concat(F.lit("W-"), digits).alias("phone"),
        F.when(ck % 7 != 0, F.col("c_acctbal") + 100).alias("bal"),
    )
    app = c.select(
        ck.alias("ck"),
        (ck * 3 + 2).alias("rid"),
        F.lit("app").alias("src"),
        (ck % 2).alias("v"),
        F.when(ck % 5 != 0, F.concat(F.lit("A-"), digits)).alias("phone"),
        (F.col("c_acctbal") + 200).alias("bal"),
    )
    recs = crm.unionByName(web).unionByName(app)
    args = ("ck", "rid", ["phone", "bal"], "v", "src",
            {"crm": 1, "web": 2, "app": 3})
    import shutil

    work = tempfile.mkdtemp(prefix="ehs_golden_state_")
    try:
        for b in range(3):
            golden_incremental(
                recs.where(F.pmod("rid", F.lit(3)) == b), work, b, *args
            )
        before = read_golden_state(spark, work).localCheckpoint()
        # replay the LAST batch: the rewrite must be idempotent
        golden_incremental(
            recs.where(F.pmod("rid", F.lit(3)) == 2), work, 2, *args
        )
        after = read_golden_state(spark, work)
        # multiset equality as ONE job (symmetric exceptAll union) —
        # same check the count+except pair made in two jobs
        if (
            before.exceptAll(after)
            .unionAll(after.exceptAll(before))
            .count()
            != 0
        ):
            raise ValueError("golden-state replay was not idempotent")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return before


@query(
    "q263_stream_golden",
    """
    WITH recs AS (
        SELECT c_custkey AS ck, c_custkey * 3 AS rid, 'crm' AS src,
               1 AS prio, c_custkey % 2 AS v,
               CASE WHEN c_custkey % 3 <> 0
                    THEN 'C-' || substr(c_name, 10) END AS phone,
               CASE WHEN c_custkey % 2 <> 0 THEN c_acctbal END AS bal
        FROM customer
        UNION ALL
        SELECT c_custkey, c_custkey * 3 + 1, 'web',
               2, (c_custkey + 1) % 2,
               'W-' || substr(c_name, 10),
               CASE WHEN c_custkey % 7 <> 0 THEN c_acctbal + 100 END
        FROM customer
        UNION ALL
        SELECT c_custkey, c_custkey * 3 + 2, 'app',
               3, c_custkey % 2,
               CASE WHEN c_custkey % 5 <> 0
                    THEN 'A-' || substr(c_name, 10) END,
               c_acctbal + 200
        FROM customer
    ), ph AS (
        SELECT ck, phone, rid, src FROM (
            SELECT ck, phone, rid, src,
                   row_number() OVER (
                       PARTITION BY ck
                       ORDER BY v DESC, prio ASC, rid ASC
                   ) AS rn
            FROM recs WHERE phone IS NOT NULL
        ) WHERE rn = 1
    ), bl AS (
        SELECT ck, bal, rid, src FROM (
            SELECT ck, bal, rid, src,
                   row_number() OVER (
                       PARTITION BY ck
                       ORDER BY v DESC, prio ASC, rid ASC
                   ) AS rn
            FROM recs WHERE bal IS NOT NULL
        ) WHERE rn = 1
    ), n AS (
        SELECT ck, count(*) AS n_records FROM recs GROUP BY ck
    )
    SELECT n.ck AS cluster_id, n.n_records,
           ph.phone, ph.rid AS phone__src_id, ph.src AS phone__source,
           bl.bal, bl.rid AS bal__src_id, bl.src AS bal__source
    FROM n
    LEFT JOIN ph ON n.ck = ph.ck
    LEFT JOIN bl ON n.ck = bl.ck
    """,
)
def q263_stream_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING golden-record maintenance (operators/
    survivorship_state.py::streaming_golden — the survivorship
    family's continuous-ingest loop, completing the batch/incremental/
    streaming triple the dedup and linkage families already have):
    q258's three-source records arrive as THREE mtime-ordered feed
    files (split by rid % 3, so every entity's records span
    micro-batches and cross-batch merging decides every winner), each
    availableNow micro-batch folds into the versioned state under its
    own micro-batch id, and the drained state must equal
    golden_records over the whole feed — the oracle is the
    full-recompute survivorship restatement, because the per-field
    winner is an associative argmax and micro-batching cannot change
    it. A loud in-plan check asserts the stream really split into
    multiple micro-batches (maxFilesPerTrigger=1), so the gate can
    never silently degenerate to one batch."""
    import glob as _glob
    import shutil
    import time

    from ..operators.survivorship_state import (
        read_golden_state,
        streaming_golden,
    )

    configure_session(spark)
    c = _t(spark, sf_dir, "customer")
    ck = F.col("c_custkey")
    digits = F.expr("substring(c_name, 10)")
    crm = c.select(
        ck.alias("ck"),
        (ck * 3).alias("rid"),
        F.lit("crm").alias("src"),
        (ck % 2).alias("v"),
        F.when(ck % 3 != 0, F.concat(F.lit("C-"), digits)).alias("phone"),
        F.when(ck % 2 != 0, F.col("c_acctbal")).alias("bal"),
    )
    web = c.select(
        ck.alias("ck"),
        (ck * 3 + 1).alias("rid"),
        F.lit("web").alias("src"),
        ((ck + 1) % 2).alias("v"),
        F.concat(F.lit("W-"), digits).alias("phone"),
        F.when(ck % 7 != 0, F.col("c_acctbal") + 100).alias("bal"),
    )
    app = c.select(
        ck.alias("ck"),
        (ck * 3 + 2).alias("rid"),
        F.lit("app").alias("src"),
        (ck % 2).alias("v"),
        F.when(ck % 5 != 0, F.concat(F.lit("A-"), digits)).alias("phone"),
        (F.col("c_acctbal") + 200).alias("bal"),
    )
    recs = crm.unionByName(web).unionByName(app)
    work = tempfile.mkdtemp(prefix="ehs_stream_golden_")
    feed = os.path.join(work, "feed")
    state = os.path.join(work, "state")
    try:
        parts_seen: set = set()
        t0 = time.time() - 1000
        for i in (0, 1, 2):
            recs.where(F.pmod("rid", F.lit(3)) == i).coalesce(1).write.mode(
                "append" if i else "overwrite"
            ).parquet(feed)
            new = set(_glob.glob(os.path.join(feed, "part-*"))) - parts_seen
            for p in new:
                os.utime(p, (t0 + 100 * i, t0 + 100 * i))
            parts_seen |= new
        stream = (
            spark.readStream.schema(recs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )
        streaming_golden(
            stream,
            state,
            os.path.join(work, "ckpt"),
            "ck",
            "rid",
            ["phone", "bal"],
            "v",
            "src",
            {"crm": 1, "web": 2, "app": 3},
        )
        n_versions = len(_glob.glob(os.path.join(state, "golden", "v*")))
        if n_versions < 2:
            raise ValueError(
                f"streaming golden ran as {n_versions} micro-batch(es) "
                "— the multi-batch merge was never exercised"
            )
        out = read_golden_state(spark, state).localCheckpoint()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return out


def _mdm_sources(spark: SparkSession, sf_dir: str):
    """q258/q262's three-source MDM construction — (crm, web, app)
    record frames over customer with rid = ck*3 + source offset."""
    c = _t(spark, sf_dir, "customer")
    ck = F.col("c_custkey")
    digits = F.expr("substring(c_name, 10)")
    crm = c.select(
        ck.alias("ck"),
        (ck * 3).alias("rid"),
        F.lit("crm").alias("src"),
        (ck % 2).alias("v"),
        F.when(ck % 3 != 0, F.concat(F.lit("C-"), digits)).alias("phone"),
        F.when(ck % 2 != 0, F.col("c_acctbal")).alias("bal"),
    )
    web = c.select(
        ck.alias("ck"),
        (ck * 3 + 1).alias("rid"),
        F.lit("web").alias("src"),
        ((ck + 1) % 2).alias("v"),
        F.concat(F.lit("W-"), digits).alias("phone"),
        F.when(ck % 7 != 0, F.col("c_acctbal") + 100).alias("bal"),
    )
    app = c.select(
        ck.alias("ck"),
        (ck * 3 + 2).alias("rid"),
        F.lit("app").alias("src"),
        (ck % 2).alias("v"),
        F.when(ck % 5 != 0, F.concat(F.lit("A-"), digits)).alias("phone"),
        (F.col("c_acctbal") + 200).alias("bal"),
    )
    return crm, web, app


_MDM_ARGS = ("ck", "rid", ["phone", "bal"], "v", "src",
             {"crm": 1, "web": 2, "app": 3})


@query(
    "q264_forget_golden",
    """
    WITH recs AS (
        SELECT c_custkey AS ck, c_custkey * 3 AS rid, 'crm' AS src,
               1 AS prio, c_custkey % 2 AS v,
               CASE WHEN c_custkey % 3 <> 0
                    THEN 'C-' || substr(c_name, 10) END AS phone,
               CASE WHEN c_custkey % 2 <> 0 THEN c_acctbal END AS bal
        FROM customer
        UNION ALL
        SELECT c_custkey, c_custkey * 3 + 1, 'web',
               2, (c_custkey + 1) % 2,
               'W-' || substr(c_name, 10),
               CASE WHEN c_custkey % 7 <> 0 THEN c_acctbal + 100 END
        FROM customer
        WHERE c_custkey % 10 <> 4
        UNION ALL
        SELECT c_custkey, c_custkey * 3 + 2, 'app',
               3, c_custkey % 2,
               CASE WHEN c_custkey % 5 <> 0
                    THEN 'A-' || substr(c_name, 10) END,
               c_acctbal + 200
        FROM customer
    ), ph AS (
        SELECT ck, phone, rid, src FROM (
            SELECT ck, phone, rid, src,
                   row_number() OVER (
                       PARTITION BY ck
                       ORDER BY v DESC, prio ASC, rid ASC
                   ) AS rn
            FROM recs WHERE phone IS NOT NULL
        ) WHERE rn = 1
    ), bl AS (
        SELECT ck, bal, rid, src FROM (
            SELECT ck, bal, rid, src,
                   row_number() OVER (
                       PARTITION BY ck
                       ORDER BY v DESC, prio ASC, rid ASC
                   ) AS rn
            FROM recs WHERE bal IS NOT NULL
        ) WHERE rn = 1
    ), n AS (
        SELECT ck, count(*) AS n_records FROM recs GROUP BY ck
    )
    SELECT n.ck AS cluster_id, n.n_records,
           ph.phone, ph.rid AS phone__src_id, ph.src AS phone__source,
           bl.bal, bl.rid AS bal__src_id, bl.src AS bal__source
    FROM n
    LEFT JOIN ph ON n.ck = ph.ck
    LEFT JOIN bl ON n.ck = bl.ck
    """,
)
def q264_forget_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten for the GOLDEN-RECORD state
    (operators/erasure.py::forget_from_golden_state, wired into
    forget_everywhere — closing VERDICT r9's top gap: the state
    persists literal field values AND record-id provenance, precisely
    what a deletion request must reach). The web records of every
    10th cluster are forgotten — chosen because web WINS the phone
    field of every even cluster (its version is 1 there while
    crm/app sit at 0), so the erasure must RE-SURVIVE those clusters
    from the retained records, not just drop rows; the doomed feed
    also carries its cluster ids so n_records drops even where the
    forgotten record only lost. The oracle restates survivorship
    over the NEVER-INGESTED corpus (the web rows simply absent), so
    the hash pins re-survival exactly: over-erasure, under-erasure,
    or a stale count all flip it. In-plan gates: provenance slots
    were actually erased, no surviving provenance references a doomed
    id, and exactly one (PII-purged) state version remains."""
    import glob as _glob
    import shutil

    from ..operators.erasure import forget_from_golden_state
    from ..operators.survivorship_state import (
        golden_incremental,
        read_golden_state,
    )

    crm, web, app = _mdm_sources(spark, sf_dir)
    recs = crm.unionByName(web).unionByName(app)
    doomed_recs = web.where(F.col("ck") % 10 == 4).localCheckpoint()
    doomed_ids = doomed_recs.select("rid")
    retained = recs.where(
        ~((F.col("rid") % 3 == 1) & (F.col("ck") % 10 == 4))
    )
    work = tempfile.mkdtemp(prefix="ehs_forget_golden_")
    try:
        for b in range(2):
            golden_incremental(
                recs.where(F.pmod("rid", F.lit(2)) == b),
                work,
                b,
                *_MDM_ARGS,
            )
        n_slots = forget_from_golden_state(
            spark,
            work,
            doomed_ids,
            retained,
            *_MDM_ARGS,
            forgotten_records=doomed_recs,
        )
        state = read_golden_state(spark, work).localCheckpoint()
        n_versions = len(_glob.glob(os.path.join(work, "golden", "v*")))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    leftover = (
        state.join(
            doomed_ids,
            (state["phone__src_id"] == doomed_ids["rid"])
            | (state["bal__src_id"] == doomed_ids["rid"]),
            "left_semi",
        )
    ).count()
    if n_slots < 1 or leftover != 0 or n_versions != 1:
        raise ValueError(
            f"golden erasure failed: slots={n_slots}, "
            f"leftover_provenance={leftover}, versions={n_versions}"
        )
    return state


@query(
    "q265_remap_golden",
    """
    WITH recs AS (
        SELECT c_custkey - (c_custkey % 2) AS ck,
               c_custkey * 3 AS rid, 'crm' AS src,
               1 AS prio, c_custkey % 2 AS v,
               CASE WHEN c_custkey % 3 <> 0
                    THEN 'C-' || substr(c_name, 10) END AS phone,
               CASE WHEN c_custkey % 2 <> 0 THEN c_acctbal END AS bal
        FROM customer
        UNION ALL
        SELECT c_custkey - (c_custkey % 2), c_custkey * 3 + 1, 'web',
               2, (c_custkey + 1) % 2,
               'W-' || substr(c_name, 10),
               CASE WHEN c_custkey % 7 <> 0 THEN c_acctbal + 100 END
        FROM customer
        UNION ALL
        SELECT c_custkey - (c_custkey % 2), c_custkey * 3 + 2, 'app',
               3, c_custkey % 2,
               CASE WHEN c_custkey % 5 <> 0
                    THEN 'A-' || substr(c_name, 10) END,
               c_acctbal + 200
        FROM customer
    ), ph AS (
        SELECT ck, phone, rid, src FROM (
            SELECT ck, phone, rid, src,
                   row_number() OVER (
                       PARTITION BY ck
                       ORDER BY v DESC, prio ASC, rid ASC
                   ) AS rn
            FROM recs WHERE phone IS NOT NULL
        ) WHERE rn = 1
    ), bl AS (
        SELECT ck, bal, rid, src FROM (
            SELECT ck, bal, rid, src,
                   row_number() OVER (
                       PARTITION BY ck
                       ORDER BY v DESC, prio ASC, rid ASC
                   ) AS rn
            FROM recs WHERE bal IS NOT NULL
        ) WHERE rn = 1
    ), n AS (
        SELECT ck, count(*) AS n_records FROM recs GROUP BY ck
    )
    SELECT n.ck AS cluster_id, n.n_records,
           ph.phone, ph.rid AS phone__src_id, ph.src AS phone__source,
           bl.bal, bl.rid AS bal__src_id, bl.src AS bal__source
    FROM n
    LEFT JOIN ph ON n.ck = ph.ck
    LEFT JOIN bl ON n.ck = bl.ck
    """,
)
def q265_remap_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GOLDEN STATE UNDER CLUSTER MERGES (operators/survivorship_state
    .py::remap_golden_clusters — VERDICT r9 #3): the linkage family's
    whole point is that NEW batches create NEW links, so when a later
    batch links two existing entities their golden rows must fold
    into one under the surviving cluster id. The state is ingested
    under the ORIGINAL per-customer clusters, then a merge mapping
    (every odd cluster into its even predecessor — already final
    representatives, the CC min-label shape) remaps the persisted
    state: rename + ONE ord-argmax groupBy, O(state), no history
    re-scan. The oracle restates full survivorship over the MERGED
    assignment (ck - ck%2 at the source), so the hash pins
    merge-equals-recompute: winners must be re-decided ACROSS the
    merged pair (web of the even customer vs crm/app of the odd one
    compete at version 1), not concatenated. In-plan gates: the
    merge actually halved the cluster count, and a replay of the
    remap under the same batch id is row-identical."""
    import shutil

    from ..operators.survivorship_state import (
        golden_incremental,
        read_golden_state,
        remap_golden_clusters,
    )

    crm, web, app = _mdm_sources(spark, sf_dir)
    recs = crm.unionByName(web).unionByName(app)
    c = _t(spark, sf_dir, "customer")
    mapping = c.where(F.col("c_custkey") % 2 == 1).select(
        F.col("c_custkey").alias("old_ck"),
        (F.col("c_custkey") - 1).alias("new_ck"),
    )
    work = tempfile.mkdtemp(prefix="ehs_remap_golden_")
    try:
        for b in range(2):
            golden_incremental(
                recs.where(F.pmod("rid", F.lit(2)) == b),
                work,
                b,
                *_MDM_ARGS,
            )
        n_before = read_golden_state(spark, work).count()
        remap_golden_clusters(spark, work, mapping, batch_id=10)
        state = read_golden_state(spark, work).localCheckpoint()
        n_after = state.count()
        if n_after * 2 > n_before + 1:
            raise ValueError(
                f"remap did not merge: {n_before} -> {n_after} clusters"
            )
        # replay under the same batch id: identical state
        remap_golden_clusters(spark, work, mapping, batch_id=10)
        again = read_golden_state(spark, work)
        # multiset equality as ONE job (symmetric exceptAll union)
        if (
            state.exceptAll(again)
            .unionAll(again.exceptAll(state))
            .count()
            != 0
        ):
            raise ValueError("golden remap replay was not idempotent")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return state


@query(
    "q266_sequence_packing",
    """
    WITH RECURSIVE docs AS (
        SELECT doc_id,
               CAST(len(regexp_split_to_array(trim(text), '\\s+'))
                    AS BIGINT) AS n_tokens,
               CAST(doc_id % 8 AS INT) AS shard
        FROM documents
    ), ord AS (
        SELECT doc_id, n_tokens, shard,
               row_number() OVER (
                   PARTITION BY shard ORDER BY doc_id
               ) AS pos
        FROM docs
    ), walk AS (
        SELECT shard, pos, doc_id, n_tokens,
               CAST(0 AS BIGINT) AS pack_local, n_tokens AS fill
        FROM ord WHERE pos = 1
        UNION ALL
        SELECT o.shard, o.pos, o.doc_id, o.n_tokens,
               CASE WHEN w.fill + o.n_tokens > 256
                    THEN w.pack_local + 1 ELSE w.pack_local END,
               CASE WHEN w.fill + o.n_tokens > 256
                    THEN o.n_tokens ELSE w.fill + o.n_tokens END
        FROM walk w
        JOIN ord o ON o.shard = w.shard AND o.pos = w.pos + 1
    )
    SELECT doc_id, n_tokens, shard,
           shard * 4294967296 + pack_local AS pack_id,
           fill - n_tokens AS offset
    FROM walk
    """,
)
def q266_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEQUENCE PACKING for training runs (functions/packing.py::
    pack_documents — VERDICT r9 #4, the last absent first-class
    LLM-data-pipeline operator): every document lands in exactly one
    fixed-budget context window, deterministically. Documents shard by
    ``doc_id % 8``, order by id within the shard, and pack NEXT-FIT
    against a 256-token budget; packs never cross shards (the 100 TB
    design: the sequential unit is the shard, one Arrow-batched O(n)
    pass each, shards in parallel, no global sort). The oracle
    restates the greedy fold exactly as a per-shard running-sum
    recursion — all shards advance together, one document per
    recursion step — so the hash pins every pack id AND every offset;
    any reordering, budget slip, or double-placement flips it.
    Invariants (budget, exactly-once, running-sum offsets, partition
    invariance) are property-pinned in tests/test_packing.py."""
    from ..functions.packing import pack_documents

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return pack_documents(d, budget=256, n_shards=8)


@query(
    "q267_phonetic_blocking",
    """
    WITH master AS (
        SELECT c_custkey AS id,
               translate(reverse(substr(c_name, 10, 9)),
                         '0123456789', 'ABCDELMRIO') AS s
        FROM customer
    ), dirty AS (
        SELECT id,
               substr(s, 1, 1) ||
               translate(substr(s, 2, 3), 'AEI', 'EIA') ||
               substr(s, 5, 100000) AS s
        FROM master
    ), mk AS (
        SELECT id, s,
               substr(s, 1, 1) || rpad(substr(translate(substr(
                   regexp_replace(regexp_replace(regexp_replace(
                   regexp_replace(regexp_replace(regexp_replace(
                   regexp_replace(
                       translate(s, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                                 '01230120022455012623010202'),
                   '0+', '0', 'g'), '1+', '1', 'g'), '2+', '2', 'g'),
                   '3+', '3', 'g'), '4+', '4', 'g'), '5+', '5', 'g'),
                   '6+', '6', 'g'),
               2, 100000), '0', ''), 1, 3), 3, '0') AS k
        FROM master
    ), dk AS (
        SELECT id, s,
               substr(s, 1, 1) || rpad(substr(translate(substr(
                   regexp_replace(regexp_replace(regexp_replace(
                   regexp_replace(regexp_replace(regexp_replace(
                   regexp_replace(
                       translate(s, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                                 '01230120022455012623010202'),
                   '0+', '0', 'g'), '1+', '1', 'g'), '2+', '2', 'g'),
                   '3+', '3', 'g'), '4+', '4', 'g'), '5+', '5', 'g'),
                   '6+', '6', 'g'),
               2, 100000), '0', ''), 1, 3), 3, '0') AS k
        FROM dirty
    ), ed AS (
        SELECT d.id AS did, m.id AS mid
        FROM dirty d JOIN master m
          ON abs(length(d.s) - length(m.s)) <= 1
        WHERE levenshtein(d.s, m.s) <= 1
    ), ph AS (
        SELECT d.id AS did, m.id AS mid
        FROM dk d JOIN mk m ON d.k = m.k
    ), u AS (
        SELECT did, mid FROM ed UNION SELECT did, mid FROM ph
    ), truth AS (
        SELECT d.id AS did, levenshtein(d.s, m.s) AS dist
        FROM dirty d JOIN master m ON d.id = m.id
    )
    SELECT a.did AS id,
           coalesce(e.n_ed, 0) AS n_ed,
           coalesce(p.n_ph, 0) AS n_ph,
           a.n_union, a.linked,
           (t.dist > 1) AS phonetic_only
    FROM (
        SELECT did, CAST(count(*) AS BIGINT) AS n_union,
               bool_or(did = mid) AS linked
        FROM u GROUP BY did
    ) a
    LEFT JOIN (
        SELECT did, CAST(count(*) AS BIGINT) AS n_ed
        FROM ed GROUP BY did
    ) e ON a.did = e.did
    LEFT JOIN (
        SELECT did, CAST(count(*) AS BIGINT) AS n_ph
        FROM ph GROUP BY did
    ) p ON a.did = p.did
    JOIN truth t ON a.did = t.did
    """,
)
def q267_phonetic_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PHONETIC BLOCKING for record linkage (functions/dedup.py::
    phonetic_key / phonetic_block_join — VERDICT r9 #6): the
    edit-distance join handles typos but cannot reach Smyth/Smith
    spelling variants at d > max_dist; a soundex-style phonetic
    equi-join can. Master names are letter projections of the
    reversed customer-key digits (reversed so the varying digits
    lead — the zero-padded prefix would otherwise collapse the
    keyspace); the dirty feed rotates the vowels in positions 2-4
    (A→E→I→A) — a corruption that PRESERVES the phonetic key (vowels
    are all class 0) while setting Levenshtein distance to the vowel
    count there, so the feed mixes exact matches, d=1 typos the
    ED-join reaches, and d≥2 variants reachable ONLY phonetically. Candidates are the UNION of both
    blocking passes (each a pure equi-join — blocking never goes
    all-pairs at scale); the oracle restates the phonetic key as the
    same translate + per-digit run-collapse chain (RE2-safe: no
    backreferences) plus the d≤1 join, so the hash pins both
    candidate sets and the union exactly. In-plan gates: phonetic-
    only true pairs exist, EVERY dirty row links to its master
    through the union, and q257's calibration (logit_train on
    agreement features over the union) separates true from false
    candidates."""
    from ..functions.calibrate import logit_score, logit_train
    from ..functions.dedup import edit_distance_join, phonetic_block_join

    c = _t(spark, sf_dir, "customer")
    master = c.select(
        F.col("c_custkey").alias("id"),
        F.translate(
            F.reverse(F.substring(F.col("c_name"), 10, 9)),
            "0123456789",
            "ABCDELMRIO",
        ).alias("s"),
    )
    # rotate only the vowels in positions 2-4: distance to the master
    # is the vowel count there (0..3), so the feed MIXES exact
    # matches, d=1 typos the ED-join reaches, and d>=2 spelling
    # variants reachable only phonetically
    dirty = master.select(
        "id",
        F.concat(
            F.substring("s", 1, 1),
            F.translate(F.substring("s", 2, 3), "AEI", "EIA"),
            F.substring("s", 5, 2147483647),
        ).alias("s"),
    )
    ed = edit_distance_join(dirty, master, max_dist=1).select(
        F.col("id_a").alias("did"), F.col("id_b").alias("mid")
    )
    ph = phonetic_block_join(dirty, master).select(
        F.col("id_a").alias("did"), F.col("id_b").alias("mid")
    )
    u = ed.unionByName(ph).distinct().localCheckpoint()
    # calibration gate: score the union with q257's learned logit on
    # exact-attribute agreement features; truth = same customer key
    attrs = c.select(
        F.col("c_custkey").alias("cid"),
        F.col("c_nationkey").alias("nk"),
        F.col("c_mktsegment").alias("ms"),
    )
    da = attrs.select(
        F.col("cid").alias("did"),
        F.col("nk").alias("nk_d"),
        F.col("ms").alias("ms_d"),
    )
    ma = attrs.select(
        F.col("cid").alias("mid"),
        F.col("nk").alias("nk_m"),
        F.col("ms").alias("ms_m"),
    )
    feat = (
        u.join(da, "did")
        .join(ma, "mid")
        .select(
            "did",
            "mid",
            (F.col("nk_d") == F.col("nk_m"))
            .cast("int")
            .cast("double")
            .alias("x1"),
            (F.col("ms_d") == F.col("ms_m"))
            .cast("int")
            .cast("double")
            .alias("x2"),
            (F.col("did") == F.col("mid")).cast("int").alias("y"),
        )
    )
    # Blocking optimizes recall over precision, so the union is
    # heavily true/false IMBALANCED — and the imbalance grows with
    # corpus size (bucket pairs grow ~n²/keys while true pairs grow
    # ~n), so no fixed round count separates at every SF. Train on a
    # deterministic class-BALANCED sample instead (every true pair +
    # hash-sampled negatives at ~1:1 — the standard linkage practice,
    # and O(1) extra passes at any scale), then score the FULL union.
    feat = feat.localCheckpoint()
    n_true = feat.where("y = 1").count()
    n_false = feat.where("y = 0").count()
    k = max(1, n_false // max(n_true, 1))
    bal = feat.where(
        (F.col("y") == 1)
        | (F.pmod(F.xxhash64("did", "mid"), F.lit(k)) == 0)
    )
    w = logit_train(bal, ["x1", "x2"], "y", rounds=4, lr=1.0)
    sep = (
        logit_score(feat, w, ["x1", "x2"])
        .agg(
            (
                F.avg(F.when(F.col("y") == 1, F.col("score")))
                - F.avg(F.when(F.col("y") == 0, F.col("score")))
            ).alias("sep")
        )
        .first()["sep"]
    )
    truth = dirty.alias("d").join(
        master.alias("m"), F.col("d.id") == F.col("m.id")
    ).select(
        F.col("d.id").alias("did"),
        F.levenshtein(F.col("d.s"), F.col("m.s")).alias("dist"),
    )
    agg = (
        u.groupBy("did")
        .agg(
            F.count("*").alias("n_union"),
            F.max(F.col("did") == F.col("mid")).alias("linked"),
        )
    )
    n_ed = ed.groupBy("did").agg(F.count("*").alias("n_ed"))
    n_ph = ph.groupBy("did").agg(F.count("*").alias("n_ph"))
    out = (
        agg.join(n_ed, "did", "left")
        .join(n_ph, "did", "left")
        .join(truth, "did")
        .select(
            F.col("did").alias("id"),
            F.coalesce("n_ed", F.lit(0)).alias("n_ed"),
            F.coalesce("n_ph", F.lit(0)).alias("n_ph"),
            "n_union",
            "linked",
            (F.col("dist") > 1).alias("phonetic_only"),
        )
        .localCheckpoint()
    )
    n_ph_only = out.where("phonetic_only").count()
    n_unlinked = out.where(~F.col("linked")).count()
    if n_ph_only < 1 or n_unlinked != 0 or sep is None or sep <= 0.1:
        raise ValueError(
            f"phonetic blocking failed: phonetic_only={n_ph_only}, "
            f"unlinked={n_unlinked}, calibration_sep={sep}"
        )
    return out


@query(
    "q268_phonetic_linkage_state",
    """
    WITH master AS (
        SELECT c_custkey AS id,
               translate(reverse(substr(c_name, 10, 9)),
                         '0123456789', 'ABCDELMRIO') AS s
        FROM customer
    ), kept AS (
        SELECT id, s FROM master WHERE id % 10 <> 3
    ), dirty AS (
        SELECT id,
               substr(s, 1, 1) ||
               translate(substr(s, 2, 3), 'AEI', 'EIA') ||
               substr(s, 5, 100000) AS s
        FROM master
    ), mk AS (
        SELECT id, s,
               substr(s, 1, 1) || rpad(substr(translate(substr(
                   regexp_replace(regexp_replace(regexp_replace(
                   regexp_replace(regexp_replace(regexp_replace(
                   regexp_replace(
                       translate(s, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                                 '01230120022455012623010202'),
                   '0+', '0', 'g'), '1+', '1', 'g'), '2+', '2', 'g'),
                   '3+', '3', 'g'), '4+', '4', 'g'), '5+', '5', 'g'),
                   '6+', '6', 'g'),
               2, 100000), '0', ''), 1, 3), 3, '0') AS k
        FROM kept
    ), dk AS (
        SELECT id, s,
               substr(s, 1, 1) || rpad(substr(translate(substr(
                   regexp_replace(regexp_replace(regexp_replace(
                   regexp_replace(regexp_replace(regexp_replace(
                   regexp_replace(
                       translate(s, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                                 '01230120022455012623010202'),
                   '0+', '0', 'g'), '1+', '1', 'g'), '2+', '2', 'g'),
                   '3+', '3', 'g'), '4+', '4', 'g'), '5+', '5', 'g'),
                   '6+', '6', 'g'),
               2, 100000), '0', ''), 1, 3), 3, '0') AS k
        FROM dirty
    ), raw AS (
        SELECT d.id AS did, m.id AS mid,
               levenshtein(d.s, m.s) AS dist, FALSE AS ph
        FROM dirty d JOIN kept m
          ON abs(length(d.s) - length(m.s)) <= 1
        WHERE levenshtein(d.s, m.s) <= 1
        UNION ALL
        SELECT d.id, m.id, levenshtein(d.s, m.s), TRUE
        FROM dk d JOIN mk m ON d.k = m.k
    ), u AS (
        SELECT did, mid, min(dist) AS dist, bool_or(ph) AS phonetic
        FROM raw GROUP BY did, mid
    )
    SELECT did AS id,
           CAST(count(*) AS BIGINT) AS n_cand,
           CAST(min(dist) AS INT) AS min_dist,
           bool_or(did = mid) AS linked,
           CAST(sum(CASE WHEN phonetic THEN 1 ELSE 0 END) AS BIGINT)
               AS n_phonetic
    FROM u GROUP BY did
    """,
)
def q268_phonetic_linkage_state(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PHONETIC-KEYED persisted linkage lifecycle (operators/
    linkage_state.py — the q253 erasure shape with the new blocking
    substore): masters append in TWO batches with phonetic=True (the
    variant index gains a (id, s, key) substore, same append/replay/
    erase layout), every 10th master is then FORGOTTEN — which must
    purge its rows from BOTH substores: a forgotten master reachable
    by phonetic key is the same compliance failure as one reachable
    by deletion variant — and the q267 vowel-rotated feed links with
    include_phonetic=True: the candidate union of the variant
    equi-join and the key equi-join, one row per pair with the edit
    path's distance winning and the phonetic flag OR-ed. The oracle
    restates linkage against the RETAINED masters only (kept = id %
    10 <> 3), both blocking passes and the per-pair fold, so the hash
    pins the erasure AND the union: an under-erased key row, a
    missed phonetic link, or a double-counted pair all flip it.
    In-plan gates: no candidate references a forgotten master, and
    some feed rows link ONLY phonetically (dist > 1)."""
    import shutil

    from ..operators.linkage_state import (
        append_linkage_masters,
        forget_from_linkage_state,
        link_batch,
    )

    c = _t(spark, sf_dir, "customer")
    master = c.select(
        F.col("c_custkey").alias("id"),
        F.translate(
            F.reverse(F.substring(F.col("c_name"), 10, 9)),
            "0123456789",
            "ABCDELMRIO",
        ).alias("s"),
    )
    dirty = master.select(
        "id",
        F.concat(
            F.substring("s", 1, 1),
            F.translate(F.substring("s", 2, 3), "AEI", "EIA"),
            F.substring("s", 5, 2147483647),
        ).alias("s"),
    )
    work = tempfile.mkdtemp(prefix="ehs_phlink_")
    try:
        append_linkage_masters(
            master.where(F.col("id") % 2 == 0),
            work,
            0,
            max_dist=1,
            phonetic=True,
        )
        append_linkage_masters(
            master.where(F.col("id") % 2 == 1),
            work,
            1,
            max_dist=1,
            phonetic=True,
        )
        doomed = master.where(F.col("id") % 10 == 3).select("id")
        forget_from_linkage_state(spark, work, doomed)
        pairs = link_batch(
            dirty, work, include_phonetic=True
        ).localCheckpoint()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    leaked = pairs.join(
        doomed, pairs["id_b"] == doomed["id"], "left_semi"
    ).count()
    out = (
        pairs.groupBy("id_a")
        .agg(
            F.count("*").alias("n_cand"),
            F.min("dist").cast("int").alias("min_dist"),
            F.max(F.col("id_a") == F.col("id_b")).alias("linked"),
            F.sum(F.col("phonetic").cast("int")).alias("n_phonetic"),
        )
        .select(
            F.col("id_a").alias("id"),
            "n_cand",
            "min_dist",
            "linked",
            "n_phonetic",
        )
        .localCheckpoint()
    )
    # a true pair at dist > 1 can only have come through the phonetic
    # pass (the variant index stops at max_dist=1)
    n_ph_only = pairs.where(
        (F.col("id_a") == F.col("id_b")) & (F.col("dist") > 1)
    ).count()
    if leaked != 0 or n_ph_only < 1:
        raise ValueError(
            f"phonetic linkage lifecycle failed: leaked={leaked}, "
            f"phonetic_only_links={n_ph_only}"
        )
    return out


@query(
    "q269_chunk_documents",
    """
    WITH t AS (
        SELECT doc_id,
               regexp_split_to_array(trim(text), '\\s+') AS toks
        FROM documents
    ), c AS (
        SELECT doc_id, toks,
               unnest(generate_series(0,
                   CAST((greatest(len(toks) - 4, 1) - 1) // 12
                        AS BIGINT))) AS i
        FROM t
    )
    SELECT doc_id, CAST(i AS INT) AS chunk_idx,
           CAST(i * 12 AS BIGINT) AS start_tok,
           CAST(len(toks[i*12 + 1 : i*12 + 16]) AS BIGINT)
               AS n_tokens,
           array_to_string(toks[i*12 + 1 : i*12 + 16], ' ')
               AS chunk_text
    FROM c
    """,
)
def q269_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOCUMENT CHUNKING (functions/chunking.py::chunk_documents —
    the step packing.py's oversize contract points upstream to, and
    the RAG passage splitter): every document splits into 16-token
    windows overlapping by 4, so chunk ``i`` starts at token ``12*i``
    and starts are generated while ``start < max(n_tokens - 4, 1)``.
    The plan is NARROW — split, a generated start sequence,
    posexplode, slice, all whole-stage-codegen built-ins, zero
    shuffles (plan-asserted in tests/test_plans.py): at 100 TB
    chunking is a pure map over the corpus scan. The oracle restates
    the start-index generation and token slicing over the same
    whitespace split, so the hash pins every window's address, offset,
    token count, AND text. Coverage/reassembly/overlap invariants are
    property-pinned in tests/test_chunking.py."""
    from ..functions.chunking import chunk_documents

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return chunk_documents(d, size=16, overlap=4)


@query(
    "q270_chunk_then_pack",
    """
    WITH RECURSIVE t AS (
        SELECT doc_id,
               regexp_split_to_array(trim(text), '\\s+') AS toks
        FROM documents
    ), c AS (
        SELECT doc_id, toks,
               unnest(generate_series(0,
                   CAST((greatest(len(toks), 1) - 1) // 32
                        AS BIGINT))) AS i
        FROM t
    ), chunks AS (
        SELECT doc_id * 1048576 + i AS chunk_id,
               CAST(len(toks[i*32 + 1 : i*32 + 32]) AS BIGINT)
                   AS n_tokens,
               CAST((doc_id * 1048576 + i) % 8 AS INT) AS shard
        FROM c
    ), ord AS (
        SELECT chunk_id, n_tokens, shard,
               row_number() OVER (
                   PARTITION BY shard ORDER BY chunk_id
               ) AS pos
        FROM chunks
    ), walk AS (
        SELECT shard, pos, chunk_id, n_tokens,
               CAST(0 AS BIGINT) AS pack_local, n_tokens AS fill
        FROM ord WHERE pos = 1
        UNION ALL
        SELECT o.shard, o.pos, o.chunk_id, o.n_tokens,
               CASE WHEN w.fill + o.n_tokens > 128
                    THEN w.pack_local + 1 ELSE w.pack_local END,
               CASE WHEN w.fill + o.n_tokens > 128
                    THEN o.n_tokens ELSE w.fill + o.n_tokens END
        FROM walk w
        JOIN ord o ON o.shard = w.shard AND o.pos = w.pos + 1
    )
    SELECT chunk_id, n_tokens, shard,
           shard * 4294967296 + pack_local AS pack_id,
           fill - n_tokens AS offset
    FROM walk
    """,
)
def q270_chunk_then_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHUNK-THEN-PACK — the full prepare-for-training path the two
    operators exist to compose (functions/chunking.py +
    functions/packing.py): documents chunk into <=32-token windows
    (overlap 0, ``with_text=False`` so the text column never leaves
    the scan — only ids and token counts move), chunks get globally
    unique numeric ids ``doc_id * 2^20 + chunk_idx`` (room for a
    ~33M-token document; an in-plan gate fails loudly past that
    instead of silently colliding), and the chunks
    pack NEXT-FIT against a 128-token budget sharded by
    ``chunk_id % 8``. At 100 TB this is the whole point of the
    split: chunking is a narrow map, packing shuffles ~16 bytes per
    chunk, and the final tensor build joins pack assignments back to
    text by id. The oracle restates chunk generation AND the
    per-shard next-fit recursion in one statement, so the hash pins
    every chunk's pack id and offset end-to-end; any slip in either
    stage or their composition flips it."""
    from ..functions.chunking import chunk_documents
    from ..functions.packing import pack_documents

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    chunks = chunk_documents(
        d, size=32, overlap=0, with_text=False
    ).localCheckpoint()
    # chunk ids are unique while chunk_idx < 2^20 — a ~33M-token
    # document at this stride, far past any real corpus document
    # (VERDICT r10 #7 raised this from 64, which a book-length
    # document could legitimately exceed) — and still collision-free
    # for doc ids up to 2^43. Enforce loudly instead of silently
    # colliding, which would make the pack order arrival-dependent
    over = chunks.where(F.col("chunk_idx") >= 1048576).count()
    if over != 0:
        raise ValueError(
            f"q270: {over} chunks exceed the 2^20-chunks-per-doc id "
            "budget — widen the multiplier in query AND oracle"
        )
    ch = chunks.select(
        (F.col("doc_id") * F.lit(1048576) + F.col("chunk_idx")).alias(
            "chunk_id"
        ),
        "n_tokens",
    )
    return pack_documents(
        ch,
        budget=128,
        id_col="chunk_id",
        tokens_col="n_tokens",
        n_shards=8,
    )


@query(
    "q271_repetition_quality",
    """
    WITH d AS (
        SELECT doc_id,
               regexp_split_to_array(trim(text), '\\s+') AS toks,
               CAST(length(trim(text)) AS BIGINT) AS total_chars
        FROM documents
    ), base AS (
        SELECT doc_id, total_chars,
               CAST(len(toks) AS BIGINT) AS n_tokens, toks
        FROM d
    ), g2 AS (
        SELECT doc_id,
               unnest([toks[i] || ' ' || toks[i+1]
                       FOR i IN range(1, len(toks))]) AS gram
        FROM base
    ), c2 AS (
        SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS cnt
        FROM g2 GROUP BY 1, 2
    ), top2 AS (
        SELECT doc_id, gram, cnt,
               row_number() OVER (
                   PARTITION BY doc_id ORDER BY cnt DESC, gram DESC
               ) AS rn
        FROM c2
    ), g3 AS (
        SELECT doc_id,
               unnest([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                       FOR i IN range(1, len(toks) - 1)]) AS gram
        FROM base
    ), c3 AS (
        SELECT doc_id, gram, count(*) AS cnt FROM g3 GROUP BY 1, 2
    ), d3 AS (
        SELECT doc_id,
               CAST(count(*) FILTER (cnt >= 2) AS BIGINT)
                   AS dup_ngram_count,
               CAST(coalesce(sum(cnt * length(gram))
                             FILTER (cnt >= 2), 0) AS BIGINT)
                   AS dup_ngram_chars
        FROM c3 GROUP BY doc_id
    ), stats AS (
        SELECT b.doc_id, b.n_tokens, b.total_chars,
               coalesce(t2.gram, '') AS top_ngram,
               coalesce(t2.cnt, 0) AS top_ngram_count,
               coalesce(t2.cnt, 0) * length(coalesce(t2.gram, ''))
                   AS top_ngram_chars,
               coalesce(d3.dup_ngram_count, 0) AS dup_ngram_count,
               coalesce(d3.dup_ngram_chars, 0) AS dup_ngram_chars
        FROM base b
        LEFT JOIN (SELECT * FROM top2 WHERE rn = 1) t2 USING (doc_id)
        LEFT JOIN d3 USING (doc_id)
    )
    SELECT *,
           (n_tokens < 30) AS flag_short,
           (n_tokens > 90) AS flag_long,
           (top_ngram_chars * 10 > total_chars * 1)
               AS flag_top_ngram,
           (dup_ngram_chars * 50 > total_chars * 1)
               AS flag_dup_ngram,
           (NOT (n_tokens < 30) AND NOT (n_tokens > 90)
            AND NOT (top_ngram_chars * 10 > total_chars * 1)
            AND NOT (dup_ngram_chars * 50 > total_chars * 1))
               AS keep
    FROM stats
    """,
)
def q271_repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REPETITION-BASED QUALITY FILTERING — the Gopher rules (Rae et
    al. 2021, table A1; functions/text.py::repetition_stats +
    gopher_flags): per document, the character mass of the most
    frequent 2-gram and of all duplicated 3-grams, as EXACT INTEGERS
    (numerator/denominator, never a float ratio), then boolean flags
    by integer cross-multiplication (top 2-gram > 10% of chars,
    duplicated 3-grams > 2%, tokens outside [30, 90]) and the `keep`
    conjunction — the boilerplate/SEO-spam gate every web-scale
    training pipeline runs between dedup and selection. Distributed
    shape: ZERO shuffle — per-document frequencies read off
    sorted-gram-array run boundaries inside one codegen projection
    (functions/text.py::_gram_run_stats), a pure map over the corpus
    scan with no explode, no aggregate, no window, no Python
    (plan-asserted). The oracle restates gram
    generation, the (count DESC, gram DESC) winner, the duplicated
    mass, and every cross-multiplied flag, so the hash pins the
    metrics AND the decisions.

    Relation to q213_gopher_repetition: q213 is the inline
    token-count sketch (distinct ratio + top-bigram token fraction,
    float ratios, two aggregates stitched by a join). This is the
    LIBRARY pair with the rest of the rule family: character-mass
    semantics as the paper states them, the duplicated-n-gram mass
    q213 lacks entirely, the winning gram's identity (deterministic
    tie-break), exact integers end-to-end, and zero shuffles where q213
    pays two aggregates and a join."""
    from ..functions.text import gopher_flags, repetition_stats

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    stats = repetition_stats(d, top_n=2, dup_n=3)
    return gopher_flags(
        stats,
        min_tokens=30,
        max_tokens=90,
        max_top_frac="0.1",
        max_dup_frac="0.02",
    )


@query(
    "q272_bpe_packing",
    """
    WITH RECURSIVE words AS (
        SELECT w AS word, count(*) AS freq FROM (
            SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
            FROM documents WHERE trim(text) <> ''
        ) WHERE w <> '' GROUP BY w
    ), w0 AS (
        SELECT word, freq, [word[i] FOR i IN range(1, len(word)+1)] AS s
        FROM words
    ), p1 AS (
        SELECT s[i] AS a, s[i+1] AS b, sum(freq) AS cnt
        FROM w0, (SELECT unnest(range(1, 64)) AS i)
        WHERE i < len(s) AND s[i] <> s[i+1] GROUP BY 1, 2
    ), m1 AS (SELECT a, b FROM p1 ORDER BY cnt DESC, a, b LIMIT 1),
    w1 AS (
        SELECT word, freq, list(sym ORDER BY pos) AS s FROM (
            SELECT w.word, w.freq, t.i AS pos,
                   CASE WHEN w.s[t.i] = m.a AND w.s[t.i+1] = m.b
                        THEN w.s[t.i] || w.s[t.i+1] ELSE w.s[t.i] END AS sym,
                   (t.i > 1 AND w.s[t.i-1] = m.a AND w.s[t.i] = m.b)
                       AS dropped
            FROM w0 w, (SELECT unnest(range(1, 65)) AS i) t, m1 m
            WHERE t.i <= len(w.s)
        ) WHERE NOT dropped GROUP BY word, freq
    ), p2 AS (
        SELECT s[i] AS a, s[i+1] AS b, sum(freq) AS cnt
        FROM w1, (SELECT unnest(range(1, 64)) AS i)
        WHERE i < len(s) AND s[i] <> s[i+1] GROUP BY 1, 2
    ), m2 AS (SELECT a, b FROM p2 ORDER BY cnt DESC, a, b LIMIT 1),
    w2 AS (
        SELECT word, freq, list(sym ORDER BY pos) AS s FROM (
            SELECT w.word, w.freq, t.i AS pos,
                   CASE WHEN w.s[t.i] = m.a AND w.s[t.i+1] = m.b
                        THEN w.s[t.i] || w.s[t.i+1] ELSE w.s[t.i] END AS sym,
                   (t.i > 1 AND w.s[t.i-1] = m.a AND w.s[t.i] = m.b)
                       AS dropped
            FROM w1 w, (SELECT unnest(range(1, 65)) AS i) t, m2 m
            WHERE t.i <= len(w.s)
        ) WHERE NOT dropped GROUP BY word, freq
    ), p3 AS (
        SELECT s[i] AS a, s[i+1] AS b, sum(freq) AS cnt
        FROM w2, (SELECT unnest(range(1, 64)) AS i)
        WHERE i < len(s) AND s[i] <> s[i+1] GROUP BY 1, 2
    ), m3 AS (SELECT a, b FROM p3 ORDER BY cnt DESC, a, b LIMIT 1),
    w3 AS (
        SELECT word, freq, list(sym ORDER BY pos) AS s FROM (
            SELECT w.word, w.freq, t.i AS pos,
                   CASE WHEN w.s[t.i] = m.a AND w.s[t.i+1] = m.b
                        THEN w.s[t.i] || w.s[t.i+1] ELSE w.s[t.i] END AS sym,
                   (t.i > 1 AND w.s[t.i-1] = m.a AND w.s[t.i] = m.b)
                       AS dropped
            FROM w2 w, (SELECT unnest(range(1, 65)) AS i) t, m3 m
            WHERE t.i <= len(w.s)
        ) WHERE NOT dropped GROUP BY word, freq
    ), enc AS (SELECT word, len(s) AS n_sub FROM w3),
    dw AS (
        SELECT doc_id, w FROM (
            SELECT doc_id,
                   unnest(regexp_split_to_array(trim(lower(text)), '\\s+'))
                       AS w
            FROM documents WHERE trim(text) <> ''
        ) WHERE w <> ''
    ), doc_tok AS (
        SELECT d.doc_id, CAST(sum(e.n_sub) AS BIGINT) AS n_tokens,
               CAST(d.doc_id % 8 AS INT) AS shard
        FROM dw d JOIN enc e ON d.w = e.word
        GROUP BY d.doc_id
    ), ord AS (
        SELECT doc_id, n_tokens, shard,
               row_number() OVER (
                   PARTITION BY shard ORDER BY doc_id
               ) AS pos
        FROM doc_tok
    ), walk AS (
        SELECT shard, pos, doc_id, n_tokens,
               CAST(0 AS BIGINT) AS pack_local, n_tokens AS fill
        FROM ord WHERE pos = 1
        UNION ALL
        SELECT o.shard, o.pos, o.doc_id, o.n_tokens,
               CASE WHEN w.fill + o.n_tokens > 512
                    THEN w.pack_local + 1 ELSE w.pack_local END,
               CASE WHEN w.fill + o.n_tokens > 512
                    THEN o.n_tokens ELSE w.fill + o.n_tokens END
        FROM walk w
        JOIN ord o ON o.shard = w.shard AND o.pos = w.pos + 1
    )
    SELECT doc_id, n_tokens, shard,
           shard * 4294967296 + pack_local AS pack_id,
           fill - n_tokens AS offset
    FROM walk
    """,
)
def q272_bpe_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKENIZER-AWARE SEQUENCE PACKING — q212's BPE token counts
    drive q266's packer: documents pack against a 512-token budget
    measured in LEARNED-SUBWORD tokens (3 in-engine BPE merge
    rounds), not the whitespace proxy — the number a trainer's
    context window actually consumes. Pipeline: bpe_word_encodings
    trains on the corpus and encodes once per DISTINCT word
    (iteration cost scales with |vocabulary|, never |corpus|), a
    word-keyed join + combinable sum rolls doc-level BPE counts, and
    pack_documents shard-local next-fits those counts (one exchange,
    only (doc_id, n_tokens) rows move). The oracle unrolls the
    identical 3 train+fuse rounds (q212's chain), the same join and
    rollup, AND the per-shard packing recursion in one recursive
    statement — the hash pins tokenizer training, encoding, and
    every pack assignment end-to-end. Empty documents carry no BPE
    tokens and are excluded by construction (WHERE trim(text) <> '',
    both engines)."""
    from ..functions.packing import pack_documents
    from ..functions.text import bpe_word_encodings

    d = _t(spark, sf_dir, "documents")
    enc = bpe_word_encodings(d, "text", rounds=3)
    dw = (
        d.where(F.trim("text") != "")
        .select(
            "doc_id",
            F.explode(
                F.split(F.trim(F.lower("text")), r"\s+")
            ).alias("w"),
        )
        .where(F.col("w") != "")
    )
    ntok = (
        dw.join(enc, "w")
        .groupBy("doc_id")
        .agg(F.sum("n_sub").cast("long").alias("n_bpe_tokens"))
    )
    return pack_documents(
        ntok,
        budget=512,
        tokens_col="n_bpe_tokens",
        n_shards=8,
    )


@query(
    "q273_incremental_packing",
    """
    WITH RECURSIVE docs AS (
        SELECT doc_id,
               CAST(len(regexp_split_to_array(trim(text), '\\s+'))
                    AS BIGINT) AS n_tokens,
               CAST(doc_id % 8 AS INT) AS shard,
               CAST(doc_id % 3 + 1 AS INT) AS b
        FROM documents
    ), ord AS (
        SELECT doc_id, n_tokens, shard, b,
               row_number() OVER (
                   PARTITION BY shard ORDER BY b, doc_id
               ) AS pos
        FROM docs
    ), walk AS (
        SELECT shard, pos, doc_id, n_tokens,
               CAST(0 AS BIGINT) AS pack_local, n_tokens AS fill
        FROM ord WHERE pos = 1
        UNION ALL
        SELECT o.shard, o.pos, o.doc_id, o.n_tokens,
               CASE WHEN w.fill + o.n_tokens > 256
                    THEN w.pack_local + 1 ELSE w.pack_local END,
               CASE WHEN w.fill + o.n_tokens > 256
                    THEN o.n_tokens ELSE w.fill + o.n_tokens END
        FROM walk w
        JOIN ord o ON o.shard = w.shard AND o.pos = w.pos + 1
    )
    SELECT doc_id, n_tokens, shard,
           shard * 4294967296 + pack_local AS pack_id,
           fill - n_tokens AS offset
    FROM walk
    """,
)
def q273_incremental_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL SEQUENCE PACKING (operators/packing_state.py::
    pack_incremental — the state-backed member of the packing family):
    the corpus arrives as three batches (``doc_id % 3``) and each
    folds into persisted per-shard cursors — next-fit is a left fold
    whose ENTIRE carried state is the open pack's (pack_local, fill,
    started) cursor, three numbers per shard, so no batch ever
    re-reads packed history. The oracle restates the whole sequence
    as ONE packing recursion ordered by (batch, id) within the shard
    — incremental must equal the single-corpus recompute exactly,
    which pins cursor carry-over, pack continuation across batches,
    and offsets. In-plan gate: batch 2 is re-applied (at-least-once
    redelivery) and the drained assignments must be unchanged —
    replay idempotence, the dedup_state convention. Crash-window +
    erasure tests in tests/test_packing_state.py."""
    import shutil
    import tempfile

    from ..operators.packing_state import (
        pack_incremental,
        read_pack_assignments,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    work = tempfile.mkdtemp(prefix="q273_")
    try:
        batches = [
            d.where(F.pmod("doc_id", F.lit(3)) == b) for b in range(3)
        ]
        for i, part in enumerate(batches):
            pack_incremental(
                part, work, batch_id=i + 1, budget=256, n_shards=8
            )
        out = read_pack_assignments(spark, work).localCheckpoint()
        # replay batch 2: assignments must be byte-identical
        pack_incremental(
            batches[1], work, batch_id=2, budget=256, n_shards=8
        )
        again = read_pack_assignments(spark, work)
        # multiset equality as ONE job: |A\\B| + |B\\A| == 0 (the
        # two separate exceptAll counts paid two scheduler round trips
        # for the same check — guide SS1.5/SS5.3)
        if (
            out.exceptAll(again).unionAll(again.exceptAll(out)).count()
            != 0
        ):
            raise ValueError(
                "incremental packing replay was not idempotent"
            )
        return out
    finally:
        shutil.rmtree(work, ignore_errors=True)


@query(
    "q274_forget_pack_state",
    """
    WITH RECURSIVE docs AS (
        SELECT doc_id,
               CAST(len(regexp_split_to_array(trim(text), '\\s+'))
                    AS BIGINT) AS n_tokens,
               CAST(doc_id % 8 AS INT) AS shard,
               CAST(doc_id % 3 + 1 AS INT) AS b
        FROM documents
    ), ord AS (
        SELECT doc_id, n_tokens, shard, b,
               row_number() OVER (
                   PARTITION BY shard ORDER BY b, doc_id
               ) AS pos
        FROM docs
    ), walk AS (
        SELECT shard, pos, doc_id, n_tokens,
               CAST(0 AS BIGINT) AS pack_local, n_tokens AS fill
        FROM ord WHERE pos = 1
        UNION ALL
        SELECT o.shard, o.pos, o.doc_id, o.n_tokens,
               CASE WHEN w.fill + o.n_tokens > 256
                    THEN w.pack_local + 1 ELSE w.pack_local END,
               CASE WHEN w.fill + o.n_tokens > 256
                    THEN o.n_tokens ELSE w.fill + o.n_tokens END
        FROM walk w
        JOIN ord o ON o.shard = w.shard AND o.pos = w.pos + 1
    )
    SELECT doc_id, n_tokens, shard,
           shard * 4294967296 + pack_local AS pack_id,
           fill - n_tokens AS offset
    FROM walk
    WHERE doc_id % 10 <> 3
    """,
)
def q274_forget_pack_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT-TO-BE-FORGOTTEN over the packing store
    (operators/packing_state.py::forget_from_pack_state, wired into
    forget_everywhere): after the q273 batch sequence, every document
    with ``doc_id % 10 == 3`` is erased. Erasure semantics the oracle
    pins exactly: the forgotten rows DROP and every retained document
    keeps its exact (pack_id, offset) — holes, not repacking, because
    repacking would rewrite the address of every later document in a
    layout the trainer already shipped, and the hole disappears when
    the tensor build joins back to the retained corpus. So the oracle
    is the full single-corpus packing recursion with the doomed ids
    filtered AFTER the fold — any accidental repacking, offset shift,
    or survivor loss flips the hash. Erase epochs are marker-complete
    (Spark _SUCCESS) and outrank batch replays, so a crashed erase is
    invisible and a redelivered batch cannot resurrect forgotten rows
    (both pinned in tests/test_packing_state.py)."""
    import shutil
    import tempfile

    from ..operators.packing_state import (
        forget_from_pack_state,
        pack_incremental,
        read_pack_assignments,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    work = tempfile.mkdtemp(prefix="q274_")
    try:
        for i in range(3):
            pack_incremental(
                d.where(F.pmod("doc_id", F.lit(3)) == i),
                work,
                batch_id=i + 1,
                budget=256,
                n_shards=8,
            )
        doomed = d.select("doc_id").where(
            F.pmod("doc_id", F.lit(10)) == 3
        )
        n = forget_from_pack_state(spark, work, doomed)
        out = read_pack_assignments(spark, work).localCheckpoint()
        # in-plan gates: the erase hit something, and nothing doomed
        # survived
        leaked = out.where(F.pmod("doc_id", F.lit(10)) == 3).count()
        if n < 1 or leaked != 0:
            raise ValueError(
                f"pack-state erasure failed: erased={n}, "
                f"leaked={leaked}"
            )
        return out
    finally:
        shutil.rmtree(work, ignore_errors=True)


@query(
    "q275_stream_packing",
    """
    WITH RECURSIVE docs AS (
        SELECT doc_id,
               CAST(len(regexp_split_to_array(trim(text), '\\s+'))
                    AS BIGINT) AS n_tokens,
               CAST(doc_id % 8 AS INT) AS shard,
               CAST(doc_id % 3 AS INT) AS b
        FROM documents
    ), ord AS (
        SELECT doc_id, n_tokens, shard, b,
               row_number() OVER (
                   PARTITION BY shard ORDER BY b, doc_id
               ) AS pos
        FROM docs
    ), walk AS (
        SELECT shard, pos, doc_id, n_tokens,
               CAST(0 AS BIGINT) AS pack_local, n_tokens AS fill
        FROM ord WHERE pos = 1
        UNION ALL
        SELECT o.shard, o.pos, o.doc_id, o.n_tokens,
               CASE WHEN w.fill + o.n_tokens > 256
                    THEN w.pack_local + 1 ELSE w.pack_local END,
               CASE WHEN w.fill + o.n_tokens > 256
                    THEN o.n_tokens ELSE w.fill + o.n_tokens END
        FROM walk w
        JOIN ord o ON o.shard = w.shard AND o.pos = w.pos + 1
    )
    SELECT doc_id, n_tokens, shard,
           shard * 4294967296 + pack_local AS pack_id,
           fill - n_tokens AS offset
    FROM walk
    """,
)
def q275_stream_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING sequence packing (operators/packing_state.py::
    streaming_pack — completing the batch/incremental/streaming
    triple the survivorship, dedup, and linkage families already
    have): the corpus arrives as THREE mtime-ordered feed files
    (split by doc_id % 3), each availableNow micro-batch folds into
    the persisted per-shard cursors under its own micro-batch id
    (maxFilesPerTrigger=1), and the drained assignments must equal
    pack_documents over the whole feed ordered by (micro-batch, id)
    — packing is ORDER-SENSITIVE, so unlike the associative golden
    merge this equality PINS the stream's deterministic micro-batch
    order on top of cursor carry-over. The oracle is the same
    single-corpus packing recursion ordered by (batch, id). In-plan
    gates: the stream really split into multiple micro-batches, and
    a redelivery of the last batch (pack_incremental with the same
    batch id) leaves the drained assignments unchanged."""
    import glob as _glob
    import shutil
    import time

    from ..operators.packing_state import (
        pack_incremental,
        read_pack_assignments,
        streaming_pack,
    )

    configure_session(spark)
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    work = tempfile.mkdtemp(prefix="q275_")
    feed = os.path.join(work, "feed")
    state = os.path.join(work, "state")
    try:
        parts_seen: set = set()
        t0 = time.time() - 1000
        for i in (0, 1, 2):
            d.where(F.pmod("doc_id", F.lit(3)) == i).coalesce(
                1
            ).write.mode("append" if i else "overwrite").parquet(feed)
            new = (
                set(_glob.glob(os.path.join(feed, "part-*")))
                - parts_seen
            )
            for p in new:
                os.utime(p, (t0 + 100 * i, t0 + 100 * i))
            parts_seen |= new
        stream = (
            spark.readStream.schema(d.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )
        streaming_pack(
            stream,
            state,
            os.path.join(work, "ckpt"),
            budget=256,
            n_shards=8,
        )
        n_versions = len(
            _glob.glob(os.path.join(state, "cursor", "v*"))
        )
        if n_versions < 2:
            raise ValueError(
                f"streaming pack ran as {n_versions} micro-batch(es) "
                "— cursor carry-over was never exercised"
            )
        out = read_pack_assignments(spark, state).localCheckpoint()
        # redeliver the last micro-batch: byte-identical assignments
        pack_incremental(
            d.where(F.pmod("doc_id", F.lit(3)) == 2),
            state,
            batch_id=n_versions - 1,
            budget=256,
            n_shards=8,
        )
        again = read_pack_assignments(spark, state)
        # multiset equality as ONE job: |A\\B| + |B\\A| == 0 (the
        # two separate exceptAll counts paid two scheduler round trips
        # for the same check — guide SS1.5/SS5.3)
        if (
            out.exceptAll(again).unionAll(again.exceptAll(out)).count()
            != 0
        ):
            raise ValueError(
                "streaming pack redelivery was not idempotent"
            )
        return out
    finally:
        shutil.rmtree(work, ignore_errors=True)


@query(
    "q276_pack_manifest",
    """
    WITH RECURSIVE docs AS (
        SELECT doc_id,
               CAST(len(regexp_split_to_array(trim(text), '\\s+'))
                    AS BIGINT) AS n_tokens,
               CAST(doc_id % 8 AS INT) AS shard
        FROM documents
    ), ord AS (
        SELECT doc_id, n_tokens, shard,
               row_number() OVER (
                   PARTITION BY shard ORDER BY doc_id
               ) AS pos
        FROM docs
    ), walk AS (
        SELECT shard, pos, doc_id, n_tokens,
               CAST(0 AS BIGINT) AS pack_local, n_tokens AS fill
        FROM ord WHERE pos = 1
        UNION ALL
        SELECT o.shard, o.pos, o.doc_id, o.n_tokens,
               CASE WHEN w.fill + o.n_tokens > 256
                    THEN w.pack_local + 1 ELSE w.pack_local END,
               CASE WHEN w.fill + o.n_tokens > 256
                    THEN o.n_tokens ELSE w.fill + o.n_tokens END
        FROM walk w
        JOIN ord o ON o.shard = w.shard AND o.pos = w.pos + 1
    ), asg AS (
        SELECT doc_id, n_tokens, shard,
               shard * 4294967296 + pack_local AS pack_id,
               fill - n_tokens AS off
        FROM walk
    )
    SELECT pack_id, shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
           CAST(256 - sum(n_tokens) AS BIGINT) AS pad_tokens,
           list(doc_id ORDER BY off) AS doc_ids,
           list(off ORDER BY off) AS offsets
    FROM asg
    GROUP BY pack_id, shard
    """,
)
def q276_pack_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PACK MANIFEST — the tensor-build step every packing docstring
    points at: pack assignments roll up into one row per context
    window carrying the ordered document list, their token offsets,
    the consumed token count, and the padding the trainer will burn
    (``pad_tokens`` — THE number you tune budget/sharding to
    minimize). Offsets are strictly increasing within a pack (every
    document has >= 1 token), so the ordered lists are deterministic
    and the oracle's ``list(... ORDER BY off)`` pins both arrays
    element-for-element. Distributed shape: packing's single shard
    exchange, then one hash aggregate keyed by pack_id whose
    collect_list is bounded by documents-per-pack (budget/min-doc
    tokens — a constant, never corpus-scale); sort_array orders each
    pack's struct list inside the projection, no window. At the
    tensor build the text column would join back by doc_id — the only
    corpus-scale move, and it ships exactly once."""
    from ..functions.packing import pack_documents

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    asg = pack_documents(d, budget=256, n_shards=8)
    pairs = F.array_sort(
        F.collect_list(
            F.struct(F.col("offset").alias("o"), F.col("doc_id").alias("d"))
        )
    )
    return (
        asg.groupBy("pack_id", "shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("pack_tokens"),
            (F.lit(256) - F.sum("n_tokens"))
            .cast("long")
            .alias("pad_tokens"),
            pairs.alias("__p"),
        )
        .select(
            "pack_id",
            "shard",
            "n_docs",
            "pack_tokens",
            "pad_tokens",
            F.col("__p").getField("d").alias("doc_ids"),
            F.col("__p").getField("o").alias("offsets"),
        )
    )


@query(
    "q277_forget_sample",
    """
    WITH k AS (
        SELECT doc_id, source, n_chars,
               row_number() OVER (
                   ORDER BY pow((CAST(concat('0x',
                       substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                       AS BIGINT) + 1) / 4294967296.0,
                       1.0 / n_chars) DESC, doc_id ASC
               ) AS rn
        FROM documents
        WHERE n_chars IS NOT NULL AND n_chars > 0 AND doc_id % 10 <> 4
    )
    SELECT doc_id, source, n_chars FROM k WHERE rn <= 25
    """,
)
def q277_forget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten for the WEIGHTED-SAMPLE RESERVOIR
    (operators/erasure.py::forget_from_sample_state, wired into
    forget_everywhere — closing VERDICT r10's top gap: the reservoir
    persists the n winners WITH ALL input columns, full source rows,
    and every ``v<k>`` version is a complete rewrite, so ALL history
    retains the rows). Every 10th document is forgotten after the
    q199 three-batch fold, and the erasure RE-RACES the sample from
    the retained corpus — the Efraimidis–Spirakis key depends only on
    the row, so the re-race is exactly the state-as-if-never-ingested
    (the forget_from_golden_state contract), which is precisely what
    the oracle states: the one-shot race over documents with the
    doomed ids simply absent. In-plan gates: the erased count equals
    the doomed winners actually in the live sample, EXACTLY one
    (PII-purged) version directory remains, no doomed id survives in
    the persisted state, and the sample re-raced back to a FULL n
    rows. The n−k no-retained contract and crash-window healing are
    pinned in tests/test_erasure.py."""
    import glob as _glob
    import shutil

    from ..operators.erasure import forget_from_sample_state
    from ..operators.sample_state import weighted_sample_incremental

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    work = tempfile.mkdtemp(prefix="ehs_forget_sample_")
    try:
        out = None
        for i in range(3):
            out = weighted_sample_incremental(
                d.where(F.pmod("doc_id", F.lit(3)) == i),
                work, i, "n_chars", 25, "doc_id",
            )
        doomed_in_live = out.where(F.col("doc_id") % 10 == 4).count()
        doomed = d.where(F.col("doc_id") % 10 == 4).select("doc_id")
        retained = d.where(F.col("doc_id") % 10 != 4)
        n_erased = forget_from_sample_state(
            spark, work, doomed, "doc_id",
            retained=retained, weight_col="n_chars", n=25,
        )
        versions = _glob.glob(os.path.join(work, "wsample", "v*"))
        if n_erased != doomed_in_live or len(versions) != 1:
            raise ValueError(
                f"sample erasure failed: erased={n_erased} (live doomed "
                f"winners {doomed_in_live}), versions={len(versions)}"
            )
        state = read_parquet_state(spark, versions[0]).localCheckpoint()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    leftover = state.where(F.col("doc_id") % 10 == 4).count()
    if leftover != 0 or state.count() != 25:
        raise ValueError(
            f"sample erasure failed: leftover={leftover}, "
            f"rows={state.count()} (want a FULL re-raced sample)"
        )
    return state.select("doc_id", "source", "n_chars")


@query(
    "q278_forget_frequency",
    """
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ), t AS (
        SELECT token FROM toks WHERE token <> ''
    ), tot AS (
        SELECT count(*) AS n FROM t
    )
    SELECT token AS item, count(*) AS cnt
    FROM t, tot
    WHERE token NOT LIKE 'a%'
    GROUP BY token, n
    HAVING count(*) >= ceil(0.01 * n)
    """,
)
def q278_forget_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten for the MISRA-GRIES FREQUENCY state
    (operators/erasure.py::forget_from_frequency_state — the second
    store VERDICT r10 found outside forget_everywhere: the sketch
    persists raw item VALUES, PII when the tracked column is an
    email/name/URL, in every full-rewrite version). After the q200
    three-batch fold, every tracked token starting with 'a' is
    forgotten BY VALUE (ids cannot reach a value-keyed store). The
    contract: doomed counter rows drop, the NULL-item running total
    is kept unchanged — n_total counts past events, not content, and
    keeping the larger N only makes the certified undercount bound
    N/(capacity+1) MORE conservative — and every older version is
    purged. At this capacity the sketch never evicts, so the
    surviving counters are exact and the oracle is the exact
    heavy-hitter filter with the doomed tokens absent but the
    threshold still computed over ALL tokens (the kept-total
    contract, visible in the SQL: tot counts every token, the WHERE
    excludes the erased ones). In-plan gates: at least one value was
    erased, exactly one version remains, no doomed value survives,
    and the persisted total matches the pre-erase total."""
    import glob as _glob
    import math
    import shutil

    from ..operators.erasure import forget_from_frequency_state
    from ..operators.frequency_state import heavy_hitters_incremental

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    ).where(F.col("token") != "")
    work = tempfile.mkdtemp(prefix="ehs_forget_freq_")
    try:
        state = None
        for i in range(3):
            state = heavy_hitters_incremental(
                toks.where(F.pmod("doc_id", F.lit(3)) == i).select(
                    "token"
                ),
                work, i, "token", capacity=4096,
            )
        total_before = state.where(F.col("item").isNull()).first()["cnt"]
        doomed_vals = state.where(
            F.col("item").isNotNull() & F.col("item").startswith("a")
        ).select("item")
        n_erased = forget_from_frequency_state(spark, work, doomed_vals)
        versions = _glob.glob(os.path.join(work, "freq", "v*"))
        if n_erased < 1 or len(versions) != 1:
            raise ValueError(
                f"frequency erasure failed: erased={n_erased}, "
                f"versions={len(versions)}"
            )
        left = read_parquet_state(spark, versions[0]).localCheckpoint()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    leftover = left.where(
        F.col("item").isNotNull() & F.col("item").startswith("a")
    ).count()
    total_after = left.where(F.col("item").isNull()).first()["cnt"]
    if leftover != 0 or total_after != total_before:
        raise ValueError(
            f"frequency erasure failed: leftover={leftover}, "
            f"total {total_before} -> {total_after} (must be kept)"
        )
    thr = int(math.ceil(0.01 * total_after))
    return left.where(
        F.col("item").isNotNull() & (F.col("cnt") >= thr)
    ).select("item", "cnt")


@query(
    "q279_packed_tensors",
    """
    WITH RECURSIVE words AS (
        SELECT w AS word, count(*) AS freq FROM (
            SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
            FROM documents WHERE trim(text) <> ''
        ) WHERE w <> '' GROUP BY w
    ), w0 AS (
        SELECT word, freq, [word[i] FOR i IN range(1, len(word)+1)] AS s
        FROM words
    ), p1 AS (
        SELECT s[i] AS a, s[i+1] AS b, sum(freq) AS cnt
        FROM w0, (SELECT unnest(range(1, 64)) AS i)
        WHERE i < len(s) AND s[i] <> s[i+1] GROUP BY 1, 2
    ), m1 AS (SELECT a, b FROM p1 ORDER BY cnt DESC, a, b LIMIT 1),
    w1 AS (
        SELECT word, freq, list(sym ORDER BY pos) AS s FROM (
            SELECT w.word, w.freq, t.i AS pos,
                   CASE WHEN w.s[t.i] = m.a AND w.s[t.i+1] = m.b
                        THEN w.s[t.i] || w.s[t.i+1] ELSE w.s[t.i] END AS sym,
                   (t.i > 1 AND w.s[t.i-1] = m.a AND w.s[t.i] = m.b)
                       AS dropped
            FROM w0 w, (SELECT unnest(range(1, 65)) AS i) t, m1 m
            WHERE t.i <= len(w.s)
        ) WHERE NOT dropped GROUP BY word, freq
    ), p2 AS (
        SELECT s[i] AS a, s[i+1] AS b, sum(freq) AS cnt
        FROM w1, (SELECT unnest(range(1, 64)) AS i)
        WHERE i < len(s) AND s[i] <> s[i+1] GROUP BY 1, 2
    ), m2 AS (SELECT a, b FROM p2 ORDER BY cnt DESC, a, b LIMIT 1),
    w2 AS (
        SELECT word, freq, list(sym ORDER BY pos) AS s FROM (
            SELECT w.word, w.freq, t.i AS pos,
                   CASE WHEN w.s[t.i] = m.a AND w.s[t.i+1] = m.b
                        THEN w.s[t.i] || w.s[t.i+1] ELSE w.s[t.i] END AS sym,
                   (t.i > 1 AND w.s[t.i-1] = m.a AND w.s[t.i] = m.b)
                       AS dropped
            FROM w1 w, (SELECT unnest(range(1, 65)) AS i) t, m2 m
            WHERE t.i <= len(w.s)
        ) WHERE NOT dropped GROUP BY word, freq
    ), p3 AS (
        SELECT s[i] AS a, s[i+1] AS b, sum(freq) AS cnt
        FROM w2, (SELECT unnest(range(1, 64)) AS i)
        WHERE i < len(s) AND s[i] <> s[i+1] GROUP BY 1, 2
    ), m3 AS (SELECT a, b FROM p3 ORDER BY cnt DESC, a, b LIMIT 1),
    w3 AS (
        SELECT word, freq, list(sym ORDER BY pos) AS s FROM (
            SELECT w.word, w.freq, t.i AS pos,
                   CASE WHEN w.s[t.i] = m.a AND w.s[t.i+1] = m.b
                        THEN w.s[t.i] || w.s[t.i+1] ELSE w.s[t.i] END AS sym,
                   (t.i > 1 AND w.s[t.i-1] = m.a AND w.s[t.i] = m.b)
                       AS dropped
            FROM w2 w, (SELECT unnest(range(1, 65)) AS i) t, m3 m
            WHERE t.i <= len(w.s)
        ) WHERE NOT dropped GROUP BY word, freq
    ), vocab AS (
        SELECT sym, CAST(row_number() OVER (ORDER BY sym) - 1 AS BIGINT)
                   AS tok_id
        FROM (SELECT DISTINCT unnest(s) AS sym FROM w3)
    ), wid AS (
        SELECT word, list(tok_id ORDER BY spos) AS ids FROM (
            SELECT w.word, t.i AS spos, v.tok_id
            FROM w3 w, (SELECT unnest(range(1, 65)) AS i) t
            JOIN vocab v ON TRUE
            WHERE t.i <= len(w.s) AND w.s[t.i] = v.sym
        ) GROUP BY word
    ), dw AS (
        SELECT doc_id, u.p AS wpos, u.w AS w FROM (
            SELECT doc_id,
                   unnest([{'p': i, 'w': arr[i]}
                           FOR i IN range(1, len(arr)+1)]) AS u
            FROM (
                SELECT doc_id,
                       regexp_split_to_array(trim(lower(text)), '\\s+')
                           AS arr
                FROM documents WHERE trim(text) <> ''
            )
        ) WHERE u.w <> ''
    ), doc_tok AS (
        SELECT d.doc_id, flatten(list(w.ids ORDER BY d.wpos)) AS toks
        FROM dw d JOIN wid w ON d.w = w.word GROUP BY d.doc_id
    ), sized AS (
        SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tokens,
               CAST(doc_id % 8 AS INT) AS shard
        FROM doc_tok
    ), ord AS (
        SELECT doc_id, n_tokens, shard,
               row_number() OVER (
                   PARTITION BY shard ORDER BY doc_id
               ) AS pos
        FROM sized
    ), walk AS (
        SELECT shard, pos, doc_id, n_tokens,
               CAST(0 AS BIGINT) AS pack_local, n_tokens AS fill
        FROM ord WHERE pos = 1
        UNION ALL
        SELECT o.shard, o.pos, o.doc_id, o.n_tokens,
               CASE WHEN w.fill + o.n_tokens > 512
                    THEN w.pack_local + 1 ELSE w.pack_local END,
               CASE WHEN w.fill + o.n_tokens > 512
                    THEN o.n_tokens ELSE w.fill + o.n_tokens END
        FROM walk w
        JOIN ord o ON o.shard = w.shard AND o.pos = w.pos + 1
    ), asg AS (
        SELECT doc_id, n_tokens, shard,
               shard * 4294967296 + pack_local AS pack_id,
               fill - n_tokens AS off
        FROM walk
    ), win AS (
        SELECT a.pack_id, a.shard,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(a.n_tokens) AS BIGINT) AS pack_tokens,
               CAST(512 - sum(a.n_tokens) AS BIGINT) AS pad_tokens,
               flatten(list(s.toks ORDER BY a.off)) AS ids
        FROM asg a JOIN sized s USING (doc_id)
        GROUP BY a.pack_id, a.shard
    )
    SELECT pack_id, shard, n_docs, pack_tokens, pad_tokens,
           ids || [CAST(-1 AS BIGINT) FOR i IN range(512 - len(ids))]
               AS input_ids
    FROM win
    """,
)
def q279_packed_tensors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PACKED TENSOR EXPORT — the last step of the training path
    (VERDICT r10 #3): the frozen tokenizer's token IDS (functions/
    text.py::bpe_doc_token_ids — 3 in-engine BPE rounds, dense ids
    over the sorted subword vocabulary), the q272 pack assignments,
    and the q276 manifest ordering compose into ONE fixed-length
    int64 array per context window: each pack's documents'
    token-id arrays concatenated in offset order and padded to the
    512 budget with pad_id=-1 (functions/packing.py::
    pack_token_windows). The oracle restates ALL THREE stages —
    the identical 3 train+fuse rounds, the vocabulary id rank, the
    per-shard packing recursion, and the manifest-order
    flatten+pad — so the hash pins every element of every window:
    a tokenizer drift, a swapped document, a wrong offset, or one
    misplaced pad token all flip it. Distributed shape: encoding is
    per-DISTINCT-word, the id-keyed join ships each token array
    exactly once, the window rollup is one hash aggregate bounded by
    docs-per-pack, and padding is a codegen array_repeat —
    length-mismatch and over-budget packs raise from the executor
    (silent ragged tensors are the failure mode this operator
    exists to prevent). Shard-file export via
    operators/export.py::write_packed_tensors is pinned in
    tests/test_packing.py."""
    from ..functions.packing import pack_documents, pack_token_windows
    from ..functions.text import bpe_doc_token_ids

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dt = bpe_doc_token_ids(d, rounds=3).localCheckpoint(eager=False)
    asg = pack_documents(
        dt, budget=512, tokens_col="n_tokens", n_shards=8
    )
    return pack_token_windows(dt, asg, budget=512, pad_id=-1)


@query(
    "q280_stream_chunk_pack",
    """
    WITH RECURSIVE t AS (
        SELECT doc_id,
               regexp_split_to_array(trim(text), '\\s+') AS toks,
               CAST(doc_id % 3 AS INT) AS b
        FROM documents
    ), c AS (
        SELECT doc_id, toks, b,
               unnest(generate_series(0,
                   CAST((greatest(len(toks), 1) - 1) // 32
                        AS BIGINT))) AS i
        FROM t
    ), chunks AS (
        SELECT doc_id * 1048576 + i AS chunk_id,
               CAST(len(toks[i*32 + 1 : i*32 + 32]) AS BIGINT)
                   AS n_tokens,
               CAST((doc_id * 1048576 + i) % 8 AS INT) AS shard,
               b
        FROM c
    ), ord AS (
        SELECT chunk_id, n_tokens, shard,
               row_number() OVER (
                   PARTITION BY shard ORDER BY b, chunk_id
               ) AS pos
        FROM chunks
    ), walk AS (
        SELECT shard, pos, chunk_id, n_tokens,
               CAST(0 AS BIGINT) AS pack_local, n_tokens AS fill
        FROM ord WHERE pos = 1
        UNION ALL
        SELECT o.shard, o.pos, o.chunk_id, o.n_tokens,
               CASE WHEN w.fill + o.n_tokens > 128
                    THEN w.pack_local + 1 ELSE w.pack_local END,
               CASE WHEN w.fill + o.n_tokens > 128
                    THEN o.n_tokens ELSE w.fill + o.n_tokens END
        FROM walk w
        JOIN ord o ON o.shard = w.shard AND o.pos = w.pos + 1
    )
    SELECT chunk_id, n_tokens, shard,
           shard * 4294967296 + pack_local AS pack_id,
           fill - n_tokens AS offset
    FROM walk
    """,
)
def q280_stream_chunk_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING CHUNK-THEN-PACK — the last composition gap in the
    training-data path (VERDICT r10 #6: batch composition is q270,
    incremental packing is q273, streaming packing is q275; their
    composition was untested): each mtime-ordered micro-batch CHUNKS
    inside streaming_pack's *transform* hook (chunk_documents with
    ``with_text=False`` — the text column never enters the pack
    shuffle — plus the q270 ``doc_id*2^20+chunk_idx`` derived id) and
    the chunks fold through the persisted per-shard cursors. A
    stateless row-wise transform of a deterministically-ordered feed
    is itself deterministically ordered, so the drained assignments
    must equal the ONE-SHOT chunk-then-pack over the corpus ordered
    by (micro-batch, chunk_id) — exactly what the oracle restates
    (chunk generation + packing recursion ordered by (b, chunk_id)
    within the shard). In-plan gates: the stream really split into
    multiple micro-batches, and redelivering the last batch through
    pack_incremental (same transform, same batch id) leaves the
    drained assignments unchanged — replay idempotence through the
    composed transform."""
    import glob as _glob
    import shutil
    import time

    from ..functions.chunking import chunk_documents
    from ..operators.packing_state import (
        pack_incremental,
        read_pack_assignments,
        streaming_pack,
    )

    configure_session(spark)
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def to_chunks(batch_df: DataFrame) -> DataFrame:
        ch = chunk_documents(batch_df, size=32, overlap=0,
                             with_text=False)
        return ch.select(
            (F.col("doc_id") * F.lit(1048576) + F.col("chunk_idx"))
            .alias("chunk_id"),
            "n_tokens",
        )

    work = tempfile.mkdtemp(prefix="q280_")
    feed = os.path.join(work, "feed")
    state = os.path.join(work, "state")
    try:
        parts_seen: set = set()
        t0 = time.time() - 1000
        for i in (0, 1, 2):
            d.where(F.pmod("doc_id", F.lit(3)) == i).coalesce(
                1
            ).write.mode("append" if i else "overwrite").parquet(feed)
            new = (
                set(_glob.glob(os.path.join(feed, "part-*")))
                - parts_seen
            )
            for p in new:
                os.utime(p, (t0 + 100 * i, t0 + 100 * i))
            parts_seen |= new
        stream = (
            spark.readStream.schema(d.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )
        streaming_pack(
            stream,
            state,
            os.path.join(work, "ckpt"),
            budget=128,
            id_col="chunk_id",
            tokens_col="n_tokens",
            n_shards=8,
            transform=to_chunks,
        )
        n_versions = len(
            _glob.glob(os.path.join(state, "cursor", "v*"))
        )
        if n_versions < 2:
            raise ValueError(
                f"stream chunk-pack ran as {n_versions} micro-batch"
                "(es) — cursor carry-over was never exercised"
            )
        out = read_pack_assignments(spark, state).localCheckpoint()
        # redeliver the last micro-batch THROUGH the transform:
        # byte-identical assignments
        pack_incremental(
            to_chunks(d.where(F.pmod("doc_id", F.lit(3)) == 2)),
            state,
            batch_id=n_versions - 1,
            budget=128,
            id_col="chunk_id",
            tokens_col="n_tokens",
            n_shards=8,
        )
        again = read_pack_assignments(spark, state)
        # multiset equality as ONE job: |A\\B| + |B\\A| == 0 (the
        # two separate exceptAll counts paid two scheduler round trips
        # for the same check — guide SS1.5/SS5.3)
        if (
            out.exceptAll(again).unionAll(again.exceptAll(out)).count()
            != 0
        ):
            raise ValueError(
                "stream chunk-pack redelivery was not idempotent"
            )
        return out
    finally:
        shutil.rmtree(work, ignore_errors=True)


@query(
    "q281_packed_attention",
    """
    WITH RECURSIVE vocab AS (
        SELECT w, CAST(row_number() OVER (ORDER BY w) - 1 AS BIGINT)
                   AS tid
        FROM (
            SELECT DISTINCT unnest(
                regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
            FROM documents WHERE trim(text) <> ''
        ) WHERE w <> ''
    ), dw AS (
        SELECT doc_id, u.p AS wpos, u.w AS w FROM (
            SELECT doc_id,
                   unnest([{'p': i, 'w': arr[i]}
                           FOR i IN range(1, len(arr)+1)]) AS u
            FROM (
                SELECT doc_id,
                       regexp_split_to_array(trim(lower(text)), '\\s+')
                           AS arr
                FROM documents WHERE trim(text) <> ''
            )
        ) WHERE u.w <> ''
    ), doc_tok AS (
        SELECT d.doc_id, list(v.tid ORDER BY d.wpos) AS toks
        FROM dw d JOIN vocab v ON d.w = v.w GROUP BY d.doc_id
    ), sized AS (
        SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tokens,
               CAST(doc_id % 8 AS INT) AS shard
        FROM doc_tok
    ), ord AS (
        SELECT doc_id, n_tokens, shard,
               row_number() OVER (
                   PARTITION BY shard ORDER BY doc_id
               ) AS pos
        FROM sized
    ), walk AS (
        SELECT shard, pos, doc_id, n_tokens,
               CAST(0 AS BIGINT) AS pack_local, n_tokens AS fill
        FROM ord WHERE pos = 1
        UNION ALL
        SELECT o.shard, o.pos, o.doc_id, o.n_tokens,
               CASE WHEN w.fill + o.n_tokens > 256
                    THEN w.pack_local + 1 ELSE w.pack_local END,
               CASE WHEN w.fill + o.n_tokens > 256
                    THEN o.n_tokens ELSE w.fill + o.n_tokens END
        FROM walk w
        JOIN ord o ON o.shard = w.shard AND o.pos = w.pos + 1
    ), asg AS (
        SELECT doc_id, n_tokens, shard,
               shard * 4294967296 + pack_local AS pack_id,
               fill - n_tokens AS off,
               CAST(row_number() OVER (
                   PARTITION BY shard, pack_local
                   ORDER BY fill - n_tokens
               ) - 1 AS BIGINT) AS seg
        FROM walk
    ), win AS (
        SELECT a.pack_id, a.shard,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(a.n_tokens) AS BIGINT) AS pack_tokens,
               CAST(256 - sum(a.n_tokens) AS BIGINT) AS pad_tokens,
               flatten(list(s.toks ORDER BY a.off)) AS ids,
               flatten(list([a.seg FOR i IN range(a.n_tokens)]
                            ORDER BY a.off)) AS segs,
               flatten(list([CAST(i AS BIGINT)
                             FOR i IN range(a.n_tokens)]
                            ORDER BY a.off)) AS poss
        FROM asg a JOIN sized s USING (doc_id)
        GROUP BY a.pack_id, a.shard
    )
    SELECT pack_id, shard, n_docs, pack_tokens, pad_tokens,
           ids || [CAST(-1 AS BIGINT) FOR i IN range(256 - len(ids))]
               AS input_ids,
           segs || [CAST(-1 AS BIGINT) FOR i IN range(256 - len(segs))]
               AS segment_ids,
           poss || [CAST(-1 AS BIGINT) FOR i IN range(256 - len(poss))]
               AS position_ids
    FROM win
    """,
)
def q281_packed_attention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PACKED-WINDOW ATTENTION METADATA — the arrays a blockwise-
    attention trainer needs NEXT TO q279's token ids, built in the
    same aggregate projection (pack_token_windows with_metadata=True,
    zero extra shuffle): ``segment_ids`` carries each token's
    document index within the pack (cross-document attention masks
    derive from equality on it — without this mask, packed neighbors
    attend to each other and contaminate training) and
    ``position_ids`` restarts from 0 at every document boundary
    (packed documents must not inherit their neighbors' positional
    phase). Tokenizer here is the zero-merge word tokenizer
    (functions/text.py::word_token_ids — dense ids over the sorted
    vocabulary), so the oracle restates tokenization as a plain
    dense-rank + ordered flatten, then the packing recursion, then
    the per-document seg/pos expansion in offset order — all three
    arrays hash element-for-element, pad tail (-1) included. The
    executor-side length/budget raises are q279's."""
    from ..functions.packing import pack_documents, pack_token_windows
    from ..functions.text import word_token_ids

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dt = word_token_ids(d).localCheckpoint(eager=False)
    asg = pack_documents(
        dt, budget=256, tokens_col="n_tokens", n_shards=8
    )
    return pack_token_windows(
        dt, asg, budget=256, pad_id=-1, with_metadata=True
    )


@query(
    "q282_epoch_repeats",
    """
    WITH tok AS (
        SELECT doc_id, source,
               CAST(len(regexp_split_to_array(trim(text), '\\s+'))
                    AS BIGINT) AS n_tokens,
               md5(concat('rep:', CAST(doc_id AS VARCHAR))) AS pri
        FROM documents
    ), s AS (
        SELECT source, sum(n_tokens) AS total FROM tok GROUP BY source
    ), b AS (
        SELECT source, total,
               CAST(floor(total * 2.3) AS BIGINT) AS budget
        FROM s
    ), plan AS (
        SELECT source, CAST(floor(budget / total) AS BIGINT) AS n_full,
               budget - CAST(floor(budget / total) AS BIGINT) * total
                   AS rem
        FROM b
    ), whole AS (
        SELECT t.doc_id, t.source, t.n_tokens,
               unnest(range(0, p.n_full)) AS epoch
        FROM tok t JOIN plan p USING (source)
        WHERE p.n_full > 0
    ), raced AS (
        SELECT t.doc_id, t.source, t.n_tokens, p.n_full, p.rem,
               sum(t.n_tokens) OVER (PARTITION BY t.source
                                     ORDER BY t.pri, t.doc_id
                                     ROWS UNBOUNDED PRECEDING)
                   - t.n_tokens AS cum_before
        FROM tok t JOIN plan p USING (source)
    )
    SELECT doc_id, source, n_tokens, CAST(epoch AS BIGINT) AS epoch
    FROM whole
    UNION ALL
    SELECT doc_id, source, n_tokens, n_full AS epoch
    FROM raced WHERE cum_before < rem
    """,
)
def q282_epoch_repeats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATA-CONSTRAINED UPSAMPLING (functions/selection.py::
    repeat_to_budget): per-source token quotas at 2.3x the natural
    size turn into an explicit EPOCH PLAN — every document repeats 2
    whole epochs and a deterministic md5-priority race admits ~0.3 of
    each source as the partial third epoch (the repeat-small-quality-
    sources move of data-constrained training, made exact and
    restatable instead of sampled). Composes upstream of packing: the
    (doc, epoch) stream keys pack_documents by a derived
    ``doc_id * n_epochs + epoch`` id for repeat-aware packing. The
    oracle restates the whole-epoch explode AND the q208-style
    windowed remainder race, so the hash pins every (doc, epoch) row.
    Distributed shape: one combinable per-source aggregate, a
    broadcast |sources|-row plan, a generated explode (output-sized,
    nothing amplifies beyond the plan), and a TWO-LEVEL remainder
    race — md5-prefix range buckets, bucket-sum offsets, pre-shuffle
    pruning of buckets past the remainder — so no task ever sorts
    more than ~1/4096 of a source (the r11 per-source-window
    scale-killer, fixed; every window in the plan is bucketed,
    asserted in tests/test_plans.py)."""
    from ..functions.selection import repeat_to_budget

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    budgets = (
        d.groupBy("source")
        .agg(
            F.floor(
                F.sum(
                    F.size(F.split(F.trim("text"), r"\s+")).cast(
                        "long"
                    )
                )
                * F.lit(2.3)
            ).alias("budget_tokens")
        )
    )
    return repeat_to_budget(d, budgets)


@query(
    "q283_forget_cdc",
    """
    WITH snap AS (
        SELECT user_id, value AS balance, event_type AS last_type
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY user_id ORDER BY ts DESC, event_id DESC
            ) AS rn
            FROM events WHERE ts < TIMESTAMP '2024-01-16'
        ) WHERE rn = 1
    ), unioned AS (
        SELECT user_id, balance, last_type, 'I' AS op,
               CAST(NULL AS TIMESTAMP) AS ts, CAST(NULL AS BIGINT) AS event_id
        FROM snap
        UNION ALL
        SELECT user_id, value, event_type,
               CASE WHEN event_type = 'error' THEN 'D'
                    WHEN event_type = 'signup' THEN 'I'
                    ELSE 'U' END,
               ts, event_id
        FROM events WHERE ts >= TIMESTAMP '2024-01-16'
    )
    SELECT user_id, balance, last_type
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY user_id
            ORDER BY ts DESC NULLS LAST, event_id DESC NULLS LAST
        ) AS rn
        FROM unioned
    ) WHERE rn = 1 AND op <> 'D' AND user_id % 10 <> 4
    """,
)
def q283_forget_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten for the CDC SNAPSHOT state
    (operators/erasure.py::forget_from_cdc_state — found by this
    round's standing store-coverage sweep, tests/test_store_registry
    .py: the snapshot persists the latest change row per key WITH
    every source column, tombstones included — complete source rows
    in every full-rewrite version). After q186's out-of-order
    two-batch fold, every 10th user is forgotten BY KEY: their live
    rows AND tombstones leave the state and all older versions are
    purged. The oracle is q186's one-shot latest-per-key SQL with the
    doomed keys absent from the final read — erasure of a keyed
    full-copy store is exactly a key filter, which is what makes it
    restatable. In-plan gates: at least one row erased, exactly one
    version remains, and no doomed key survives anywhere in the
    persisted state (tombstones included — read raw, not through the
    snapshot reader)."""
    import glob as _glob
    import shutil

    from ..operators.cdc import (
        read_snapshot_state,
        snapshot_apply_incremental,
    )
    from ..operators.erasure import forget_from_cdc_state

    e = _t(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-16").cast("timestamp_ntz")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    snapshot = (
        e.where(F.col("ts") < cutoff)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("value").alias("balance"),
            F.col("event_type").alias("last_type"),
            F.lit("I").alias("op"),
            F.lit(None).cast("timestamp_ntz").alias("ts"),
            F.lit(None).cast("long").alias("event_id"),
        )
    )
    changes = e.select(
        "user_id",
        F.col("value").alias("balance"),
        F.col("event_type").alias("last_type"),
        F.when(F.col("event_type") == "error", "D")
        .when(F.col("event_type") == "signup", "I")
        .otherwise("U")
        .alias("op"),
        "ts",
        "event_id",
    ).where(F.col("ts") >= cutoff)
    keys, seqs = ["user_id"], ["ts", "event_id"]
    work = tempfile.mkdtemp(prefix="ehs_forget_cdc_")
    try:
        b0 = snapshot.unionByName(
            changes.where(F.pmod("event_id", F.lit(2)) == 0)
        )
        snapshot_apply_incremental(b0, work, 0, keys, seqs)
        snapshot_apply_incremental(
            changes.where(F.pmod("event_id", F.lit(2)) == 1),
            work, 1, keys, seqs,
        )
        doomed = (
            e.select("user_id")
            .where(F.col("user_id") % 10 == 4)
            .distinct()
        )
        n_erased = forget_from_cdc_state(
            spark, work, doomed, "user_id"
        )
        versions = _glob.glob(os.path.join(work, "snapshot", "v*"))
        raw_leftover = (
            read_parquet_state(spark, versions[0])
            .where(F.col("user_id") % 10 == 4)
            .count()
            if len(versions) == 1
            else -1
        )
        out = read_snapshot_state(spark, work, seqs).localCheckpoint()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if n_erased < 1 or len(versions) != 1 or raw_leftover != 0:
        raise ValueError(
            f"cdc erasure failed: erased={n_erased}, "
            f"versions={len(versions)}, raw_leftover={raw_leftover}"
        )
    return out


@query(
    "q284_forget_clusters",
    """
    WITH e AS (
        SELECT doc_id AS a, doc_id - doc_id % 4 AS b
        FROM documents WHERE doc_id % 4 <> 0
    ), n AS (
        SELECT DISTINCT node_id, node_id - node_id % 4 AS g FROM (
            SELECT a AS node_id FROM e
            UNION ALL
            SELECT b AS node_id FROM e
        )
    ), kept AS (
        SELECT node_id, g FROM n WHERE node_id % 8 <> 0
    )
    SELECT k.node_id, m.lbl AS cluster_id
    FROM kept k
    JOIN (SELECT g, min(node_id) AS lbl FROM kept GROUP BY g) m
      USING (g)
    """,
)
def q284_forget_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten for the DUPLICATE-CLUSTERS state
    (operators/erasure.py::forget_from_clusters_state — the other
    store this round's registry sweep surfaced: cluster_id is the
    component-MINIMUM node id, so a forgotten node that anchored its
    cluster would otherwise persist as every surviving member's
    label). Star-shaped dup components (each doc linked to its
    4-group anchor) fold in two incremental batches; then every
    anchor of an even group (node %% 8 == 0) is forgotten — chosen
    because those ids ARE the labels of their clusters, so the
    erasure must both drop the rows AND re-anchor the survivors on
    their lowest remaining member (the embedding-LSH re-anchor
    convention; membership among retained nodes is kept — the edges
    were discarded, so connectivity through the forgotten node is
    re-verification territory, not silent splitting). The oracle
    restates kept-membership + min-relabel directly. In-plan gates:
    rows were erased, exactly one (purged) version remains, and no
    doomed id survives as a node OR a label."""
    import glob as _glob
    import shutil

    from ..operators.dedup_state import duplicate_clusters_incremental
    from ..operators.erasure import forget_from_clusters_state

    d = _t(spark, sf_dir, "documents").select("doc_id")
    edges = d.where(F.col("doc_id") % 4 != 0).select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") - F.col("doc_id") % 4).alias("id_b"),
    )
    work = tempfile.mkdtemp(prefix="ehs_forget_clusters_")
    try:
        for b in range(2):
            duplicate_clusters_incremental(
                edges.where(F.pmod("id_a", F.lit(2)) == b), work, b
            )
        nodes = edges.select(F.col("id_a").alias("n")).unionByName(
            edges.select(F.col("id_b").alias("n"))
        ).distinct()
        doomed = nodes.where(F.col("n") % 8 == 0)
        n_erased = forget_from_clusters_state(spark, work, doomed)
        versions = _glob.glob(os.path.join(work, "clusters", "v*"))
        state = (
            read_parquet_state(spark, versions[0]).localCheckpoint()
            if len(versions) == 1
            else None
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if n_erased < 1 or state is None:
        raise ValueError(
            f"clusters erasure failed: erased={n_erased}, "
            f"versions={len(versions)}"
        )
    leftover = state.where(
        (F.col("node_id") % 8 == 0) | (F.col("cluster_id") % 8 == 0)
    ).count()
    if leftover != 0:
        raise ValueError(
            f"clusters erasure failed: {leftover} rows still carry a "
            "doomed id as node or label"
        )
    return state


@query(
    "q285_frozen_vocab_encode",
    """
    WITH RECURSIVE words AS (
        SELECT w AS word, count(*) AS freq FROM (
            SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
            FROM documents WHERE trim(text) <> '' AND doc_id % 2 = 0
        ) WHERE w <> '' GROUP BY w
    ), w0 AS (
        SELECT word, freq, [word[i] FOR i IN range(1, len(word)+1)] AS s
        FROM words
    ), p1 AS (
        SELECT s[i] AS a, s[i+1] AS b, sum(freq) AS cnt
        FROM w0, (SELECT unnest(range(1, 64)) AS i)
        WHERE i < len(s) AND s[i] <> s[i+1] GROUP BY 1, 2
    ), m1 AS (SELECT a, b FROM p1 ORDER BY cnt DESC, a, b LIMIT 1),
    w1 AS (
        SELECT word, freq, list(sym ORDER BY pos) AS s FROM (
            SELECT w.word, w.freq, t.i AS pos,
                   CASE WHEN w.s[t.i] = m.a AND w.s[t.i+1] = m.b
                        THEN w.s[t.i] || w.s[t.i+1] ELSE w.s[t.i] END AS sym,
                   (t.i > 1 AND w.s[t.i-1] = m.a AND w.s[t.i] = m.b)
                       AS dropped
            FROM w0 w, (SELECT unnest(range(1, 65)) AS i) t, m1 m
            WHERE t.i <= len(w.s)
        ) WHERE NOT dropped GROUP BY word, freq
    ), p2 AS (
        SELECT s[i] AS a, s[i+1] AS b, sum(freq) AS cnt
        FROM w1, (SELECT unnest(range(1, 64)) AS i)
        WHERE i < len(s) AND s[i] <> s[i+1] GROUP BY 1, 2
    ), m2 AS (SELECT a, b FROM p2 ORDER BY cnt DESC, a, b LIMIT 1),
    w2 AS (
        SELECT word, freq, list(sym ORDER BY pos) AS s FROM (
            SELECT w.word, w.freq, t.i AS pos,
                   CASE WHEN w.s[t.i] = m.a AND w.s[t.i+1] = m.b
                        THEN w.s[t.i] || w.s[t.i+1] ELSE w.s[t.i] END AS sym,
                   (t.i > 1 AND w.s[t.i-1] = m.a AND w.s[t.i] = m.b)
                       AS dropped
            FROM w1 w, (SELECT unnest(range(1, 65)) AS i) t, m2 m
            WHERE t.i <= len(w.s)
        ) WHERE NOT dropped GROUP BY word, freq
    ), p3 AS (
        SELECT s[i] AS a, s[i+1] AS b, sum(freq) AS cnt
        FROM w2, (SELECT unnest(range(1, 64)) AS i)
        WHERE i < len(s) AND s[i] <> s[i+1] GROUP BY 1, 2
    ), m3 AS (SELECT a, b FROM p3 ORDER BY cnt DESC, a, b LIMIT 1),
    w3 AS (
        SELECT word, freq, list(sym ORDER BY pos) AS s FROM (
            SELECT w.word, w.freq, t.i AS pos,
                   CASE WHEN w.s[t.i] = m.a AND w.s[t.i+1] = m.b
                        THEN w.s[t.i] || w.s[t.i+1] ELSE w.s[t.i] END AS sym,
                   (t.i > 1 AND w.s[t.i-1] = m.a AND w.s[t.i] = m.b)
                       AS dropped
            FROM w2 w, (SELECT unnest(range(1, 65)) AS i) t, m3 m
            WHERE t.i <= len(w.s)
        ) WHERE NOT dropped GROUP BY word, freq
    ), vocab AS (
        SELECT sym, CAST(row_number() OVER (ORDER BY sym) - 1 AS BIGINT)
                   AS tok_id
        FROM (SELECT DISTINCT unnest(s) AS sym FROM w3)
    ), wordsB AS (
        SELECT DISTINCT w AS word FROM (
            SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
            FROM documents WHERE trim(text) <> '' AND doc_id % 2 = 1
        ) WHERE w <> ''
    ), b0 AS (
        SELECT word, [word[i] FOR i IN range(1, len(word)+1)] AS s
        FROM wordsB
    ), b1 AS (
        SELECT word, list(sym ORDER BY pos) AS s FROM (
            SELECT w.word, t.i AS pos,
                   CASE WHEN w.s[t.i] = m.a AND w.s[t.i+1] = m.b
                        THEN w.s[t.i] || w.s[t.i+1] ELSE w.s[t.i] END AS sym,
                   (t.i > 1 AND w.s[t.i-1] = m.a AND w.s[t.i] = m.b)
                       AS dropped
            FROM b0 w, (SELECT unnest(range(1, 65)) AS i) t, m1 m
            WHERE t.i <= len(w.s)
        ) WHERE NOT dropped GROUP BY word
    ), b2 AS (
        SELECT word, list(sym ORDER BY pos) AS s FROM (
            SELECT w.word, t.i AS pos,
                   CASE WHEN w.s[t.i] = m.a AND w.s[t.i+1] = m.b
                        THEN w.s[t.i] || w.s[t.i+1] ELSE w.s[t.i] END AS sym,
                   (t.i > 1 AND w.s[t.i-1] = m.a AND w.s[t.i] = m.b)
                       AS dropped
            FROM b1 w, (SELECT unnest(range(1, 65)) AS i) t, m2 m
            WHERE t.i <= len(w.s)
        ) WHERE NOT dropped GROUP BY word
    ), b3 AS (
        SELECT word, list(sym ORDER BY pos) AS s FROM (
            SELECT w.word, t.i AS pos,
                   CASE WHEN w.s[t.i] = m.a AND w.s[t.i+1] = m.b
                        THEN w.s[t.i] || w.s[t.i+1] ELSE w.s[t.i] END AS sym,
                   (t.i > 1 AND w.s[t.i-1] = m.a AND w.s[t.i] = m.b)
                       AS dropped
            FROM b2 w, (SELECT unnest(range(1, 65)) AS i) t, m3 m
            WHERE t.i <= len(w.s)
        ) WHERE NOT dropped GROUP BY word
    ), wid AS (
        SELECT word, list(coalesce(v.tok_id, -2) ORDER BY spos) AS ids,
               CAST(count(*) FILTER (v.tok_id IS NULL) AS BIGINT)
                   AS n_unk_w
        FROM (
            SELECT w.word, t.i AS spos, w.s[t.i] AS sym
            FROM b3 w, (SELECT unnest(range(1, 65)) AS i) t
            WHERE t.i <= len(w.s)
        ) x LEFT JOIN vocab v USING (sym)
        GROUP BY word
    ), dw AS (
        SELECT doc_id, u.p AS wpos, u.w AS w FROM (
            SELECT doc_id,
                   unnest([{'p': i, 'w': arr[i]}
                           FOR i IN range(1, len(arr)+1)]) AS u
            FROM (
                SELECT doc_id,
                       regexp_split_to_array(trim(lower(text)), '\\s+')
                           AS arr
                FROM documents
                WHERE trim(text) <> '' AND doc_id % 2 = 1
            )
        ) WHERE u.w <> ''
    )
    SELECT d.doc_id,
           flatten(list(w.ids ORDER BY d.wpos)) AS token_ids,
           CAST(sum(len(w.ids)) AS BIGINT) AS n_tokens,
           CAST(sum(w.n_unk_w) AS BIGINT) AS n_unk
    FROM dw d JOIN wid w ON d.w = w.word
    GROUP BY d.doc_id
    """,
)
def q285_frozen_vocab_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VINTAGE-STABLE ENCODING under a FROZEN merges+vocab state
    (operators/bpe_state.py::build_bpe_state(with_vocab=True) +
    functions/text.py::bpe_doc_token_ids(vocab=..., unk_id=...)) —
    the deployment half of the tokenizer contract the tensor path
    needs: merges freeze token BOUNDARIES, but ids derived from each
    batch's own subword set silently renumber when one subword
    appears or vanishes, making tensors from different vintages
    incomparable. Here the even-doc half of the corpus trains and
    freezes both tables; the odd-doc half encodes STRICTLY under
    them, unseen subwords mapping to unk_id=-2 (the loud no-unk
    default is pinned in tests). The oracle restates the vintage-A
    train chain, the vintage-A vocabulary rank, the frozen REPLAY of
    those rules over vintage-B's words, and the per-document flatten
    with the unk fallback — every id of every document hashed, plus
    the per-doc unk count. Persisted-state round trip included: the
    rules and vocab go through parquet, not memory."""
    from ..functions.text import bpe_doc_token_ids
    from ..operators.bpe_state import (
        build_bpe_state,
        read_bpe_merges,
        read_bpe_vocab,
    )
    import shutil

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    a = d.where(F.pmod("doc_id", F.lit(2)) == 0)
    b = d.where(F.pmod("doc_id", F.lit(2)) == 1)
    work = tempfile.mkdtemp(prefix="ehs_frozen_vocab_")
    try:
        build_bpe_state(a, work, rounds=3, with_vocab=True)
        rules = read_bpe_merges(spark, work).collect()
        vocab = read_bpe_vocab(spark, work).localCheckpoint()
        enc = bpe_doc_token_ids(
            b, merges=rules, vocab=vocab, unk_id=-2
        ).localCheckpoint()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return enc.select(
        "doc_id",
        "token_ids",
        "n_tokens",
        F.size(
            F.filter("token_ids", lambda x: x == F.lit(-2))
        ).cast("long").alias("n_unk"),
    )


@query(
    "q286_epoch_packed_tensors",
    """
    WITH RECURSIVE tok AS (
        SELECT doc_id, source,
               CAST(len(regexp_split_to_array(trim(text), '\\s+'))
                    AS BIGINT) AS n_tokens,
               md5(concat('rep:', CAST(doc_id AS VARCHAR))) AS pri
        FROM documents
    ), s AS (
        SELECT source, sum(n_tokens) AS total FROM tok GROUP BY source
    ), b AS (
        SELECT source, total,
               CAST(floor(total * 2.3) AS BIGINT) AS budget
        FROM s
    ), plan AS (
        SELECT source, CAST(floor(budget / total) AS BIGINT) AS n_full,
               budget - CAST(floor(budget / total) AS BIGINT) * total
                   AS rem
        FROM b
    ), whole AS (
        SELECT t.doc_id, CAST(unnest(range(0, p.n_full)) AS BIGINT)
                   AS epoch
        FROM tok t JOIN plan p USING (source)
        WHERE p.n_full > 0
    ), raced AS (
        SELECT t.doc_id, p.n_full,
               sum(t.n_tokens) OVER (PARTITION BY t.source
                                     ORDER BY t.pri, t.doc_id
                                     ROWS UNBOUNDED PRECEDING)
                   - t.n_tokens AS cum_before, p.rem
        FROM tok t JOIN plan p USING (source)
    ), ep AS (
        SELECT doc_id, epoch FROM whole
        UNION ALL
        SELECT doc_id, n_full AS epoch FROM raced
        WHERE cum_before < rem
    ), vocab AS (
        SELECT w, CAST(row_number() OVER (ORDER BY w) - 1 AS BIGINT)
                   AS tid
        FROM (
            SELECT DISTINCT unnest(
                regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
            FROM documents WHERE trim(text) <> ''
        ) WHERE w <> ''
    ), dw AS (
        SELECT doc_id, u.p AS wpos, u.w AS w FROM (
            SELECT doc_id,
                   unnest([{'p': i, 'w': arr[i]}
                           FOR i IN range(1, len(arr)+1)]) AS u
            FROM (
                SELECT doc_id,
                       regexp_split_to_array(trim(lower(text)), '\\s+')
                           AS arr
                FROM documents WHERE trim(text) <> ''
            )
        ) WHERE u.w <> ''
    ), doc_tok AS (
        SELECT d.doc_id, list(v.tid ORDER BY d.wpos) AS toks
        FROM dw d JOIN vocab v ON d.w = v.w GROUP BY d.doc_id
    ), sized AS (
        SELECT e.doc_id * 1048576 + e.epoch AS eid, d.toks,
               CAST(len(d.toks) AS BIGINT) AS n_tokens,
               CAST((e.doc_id * 1048576 + e.epoch) % 7 AS INT)
                   AS shard
        FROM ep e JOIN doc_tok d USING (doc_id)
    ), ord AS (
        SELECT eid, n_tokens, shard,
               row_number() OVER (
                   PARTITION BY shard ORDER BY eid
               ) AS pos
        FROM sized
    ), walk AS (
        SELECT shard, pos, eid, n_tokens,
               CAST(0 AS BIGINT) AS pack_local, n_tokens AS fill
        FROM ord WHERE pos = 1
        UNION ALL
        SELECT o.shard, o.pos, o.eid, o.n_tokens,
               CASE WHEN w.fill + o.n_tokens > 384
                    THEN w.pack_local + 1 ELSE w.pack_local END,
               CASE WHEN w.fill + o.n_tokens > 384
                    THEN o.n_tokens ELSE w.fill + o.n_tokens END
        FROM walk w
        JOIN ord o ON o.shard = w.shard AND o.pos = w.pos + 1
    ), asg AS (
        SELECT eid, n_tokens, shard,
               shard * 4294967296 + pack_local AS pack_id,
               fill - n_tokens AS off,
               CAST(row_number() OVER (
                   PARTITION BY shard, pack_local
                   ORDER BY fill - n_tokens
               ) - 1 AS BIGINT) AS seg
        FROM walk
    ), win AS (
        SELECT a.pack_id, a.shard,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(a.n_tokens) AS BIGINT) AS pack_tokens,
               CAST(384 - sum(a.n_tokens) AS BIGINT) AS pad_tokens,
               flatten(list(s.toks ORDER BY a.off)) AS ids,
               flatten(list([a.seg FOR i IN range(a.n_tokens)]
                            ORDER BY a.off)) AS segs,
               flatten(list([CAST(i AS BIGINT)
                             FOR i IN range(a.n_tokens)]
                            ORDER BY a.off)) AS poss
        FROM asg a JOIN sized s USING (eid)
        GROUP BY a.pack_id, a.shard
    )
    SELECT pack_id, shard, n_docs, pack_tokens, pad_tokens,
           ids || [CAST(-1 AS BIGINT) FOR i IN range(384 - len(ids))]
               AS input_ids,
           segs || [CAST(-1 AS BIGINT) FOR i IN range(384 - len(segs))]
               AS segment_ids,
           poss || [CAST(-1 AS BIGINT) FOR i IN range(384 - len(poss))]
               AS position_ids
    FROM win
    """,
)
def q286_epoch_packed_tensors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EPOCH-AWARE PACKED TENSORS (VERDICT r11 #3) — the composition
    q282's docstring promised but nothing gated: the data-constrained
    epoch plan (functions/selection.py::repeat_to_budget, 2.3x
    quotas → 2 whole epochs + a partial third) feeds packing and
    tensor export, so every REPEATED epoch instance appears as its
    own window content. Each (doc, epoch) row gets the derived id
    ``doc_id * 2^20 + epoch`` — the q270 stride convention, with the
    same loud in-plan collision gate (an epoch count at or past 2^20
    raises instead of silently folding two instances into one id and
    making the pack order arrival-dependent). The token arrays are
    the zero-merge word tokenizer's (q281), joined to the epoch plan
    by doc id — repeats are GENERATED by the join, never shuffled as
    text — and packed next-fit against a 384 budget with attention
    metadata in the same aggregate. n_shards is 7, NOT a power of
    two: the 2^20 stride is divisible by any power-of-2 shard count,
    which would make ``eid % n_shards == epoch % n_shards`` — every
    epoch-0 instance in one shard, a total skew collapse; a shard
    count coprime to the stride interleaves docs and epochs. The
    oracle restates the ENTIRE chain — quota plan, whole-epoch
    explode, windowed remainder race, vocabulary rank, derived-id
    packing recursion, flatten+pad — so the hash pins every element
    of every window including the repeated ones and the pad tails."""
    from ..functions.packing import pack_documents, pack_token_windows
    from ..functions.selection import repeat_to_budget
    from ..functions.text import word_token_ids

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    budgets = d.groupBy("source").agg(
        F.floor(
            F.sum(
                F.size(F.split(F.trim("text"), r"\s+")).cast("long")
            )
            * F.lit(2.3)
        ).alias("budget_tokens")
    )
    plan = repeat_to_budget(d, budgets).localCheckpoint(
        eager=False
    )
    # derived ids are unique while epoch < 2^20 (far past any real
    # repeat factor) — enforce loudly, the q270 convention
    over = plan.where(F.col("epoch") >= 1048576).count()
    if over != 0:
        raise ValueError(
            f"q286: {over} epoch rows exceed the 2^20 id stride — "
            "widen the multiplier in query AND oracle"
        )
    dt = word_token_ids(d).localCheckpoint(eager=False)
    edt = (
        plan.select("doc_id", "epoch")
        .join(dt, "doc_id")
        .select(
            (F.col("doc_id") * F.lit(1048576) + F.col("epoch"))
            .alias("doc_id"),
            "token_ids",
            F.size("token_ids").cast("long").alias("n_tokens"),
        )
        .localCheckpoint(eager=False)
    )
    asg = pack_documents(
        edt.select("doc_id", "n_tokens"),
        budget=384,
        tokens_col="n_tokens",
        n_shards=7,
    )
    return pack_token_windows(
        edt, asg, budget=384, pad_id=-1, with_metadata=True
    )


@query(
    "q287_training_pipeline",
    """
    WITH RECURSIVE feat AS (
        SELECT doc_id, source, text,
               len(regexp_split_to_array(trim(lower(text)), '\\s+'))
                   AS n_tok,
               len(list_distinct(
                   regexp_split_to_array(trim(lower(text)), '\\s+')))
                   AS n_distinct,
               CAST(round(CAST(
                   least(len(regexp_split_to_array(trim(text), '\\s+'))
                         / 50.0, 1.0)
                   * (1.0 - length(regexp_replace(text, '[^.,;:!?]',
                                                  '', 'g'))
                          / greatest(length(text), 1))
                   AS DECIMAL(30,10)), 4) AS DOUBLE) AS quality
        FROM documents
    ), kept AS (
        SELECT doc_id, source, text FROM feat
        WHERE n_tok >= 10
          AND n_distinct / CAST(n_tok AS DOUBLE) >= 0.5
          AND quality >= 0.3
    ), ded AS (
        SELECT min(doc_id) AS doc_id
        FROM (
            SELECT doc_id,
                   md5(regexp_replace(lower(trim(text)), '\\s+', ' ',
                                      'g')) AS fp
            FROM kept
        ) GROUP BY fp
    ), corpus AS (
        SELECT k.doc_id, k.source, k.text
        FROM kept k JOIN ded USING (doc_id)
    ), tok AS (
        SELECT doc_id, source,
               CAST(len(regexp_split_to_array(trim(text), '\\s+'))
                    AS BIGINT) AS n_tokens,
               md5(concat('rep:', CAST(doc_id AS VARCHAR))) AS pri
        FROM corpus
    ), s AS (
        SELECT source, sum(n_tokens) AS total FROM tok GROUP BY source
    ), b AS (
        SELECT source, total,
               CAST(floor(total * 0.8) AS BIGINT) AS budget
        FROM s
    ), plan AS (
        SELECT source, CAST(floor(budget / total) AS BIGINT) AS n_full,
               budget - CAST(floor(budget / total) AS BIGINT) * total
                   AS rem
        FROM b
    ), whole AS (
        SELECT t.doc_id, CAST(unnest(range(0, p.n_full)) AS BIGINT)
                   AS epoch
        FROM tok t JOIN plan p USING (source)
        WHERE p.n_full > 0
    ), raced AS (
        SELECT t.doc_id, p.n_full,
               sum(t.n_tokens) OVER (PARTITION BY t.source
                                     ORDER BY t.pri, t.doc_id
                                     ROWS UNBOUNDED PRECEDING)
                   - t.n_tokens AS cum_before, p.rem
        FROM tok t JOIN plan p USING (source)
    ), picked AS (
        SELECT DISTINCT doc_id FROM (
            SELECT doc_id FROM whole
            UNION ALL
            SELECT doc_id FROM raced WHERE cum_before < rem
        )
    ), sel AS (
        SELECT c.doc_id, c.text FROM corpus c JOIN picked USING (doc_id)
    ), vocab AS (
        SELECT w, CAST(row_number() OVER (ORDER BY w) - 1 AS BIGINT)
                   AS tid
        FROM (
            SELECT DISTINCT unnest(
                regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
            FROM sel WHERE trim(text) <> ''
        ) WHERE w <> ''
    ), dw AS (
        SELECT doc_id, u.p AS wpos, u.w AS w FROM (
            SELECT doc_id,
                   unnest([{'p': i, 'w': arr[i]}
                           FOR i IN range(1, len(arr)+1)]) AS u
            FROM (
                SELECT doc_id,
                       regexp_split_to_array(trim(lower(text)), '\\s+')
                           AS arr
                FROM sel WHERE trim(text) <> ''
            )
        ) WHERE u.w <> ''
    ), doc_tok AS (
        SELECT d.doc_id, list(v.tid ORDER BY d.wpos) AS toks
        FROM dw d JOIN vocab v ON d.w = v.w GROUP BY d.doc_id
    ), cidx AS (
        SELECT doc_id, toks,
               unnest(generate_series(0,
                   CAST((len(toks) - 1) // 32 AS BIGINT))) AS i
        FROM doc_tok
    ), chunks AS (
        SELECT doc_id * 1048576 + i AS cid,
               toks[i*32 + 1 : i*32 + 32] AS ctoks,
               CAST(len(toks[i*32 + 1 : i*32 + 32]) AS BIGINT)
                   AS n_tokens,
               CAST((doc_id * 1048576 + i) % 7 AS INT) AS shard
        FROM cidx
    ), ord AS (
        SELECT cid, n_tokens, shard,
               row_number() OVER (
                   PARTITION BY shard ORDER BY cid
               ) AS pos
        FROM chunks
    ), walk AS (
        SELECT shard, pos, cid, n_tokens,
               CAST(0 AS BIGINT) AS pack_local, n_tokens AS fill
        FROM ord WHERE pos = 1
        UNION ALL
        SELECT o.shard, o.pos, o.cid, o.n_tokens,
               CASE WHEN w.fill + o.n_tokens > 128
                    THEN w.pack_local + 1 ELSE w.pack_local END,
               CASE WHEN w.fill + o.n_tokens > 128
                    THEN o.n_tokens ELSE w.fill + o.n_tokens END
        FROM walk w
        JOIN ord o ON o.shard = w.shard AND o.pos = w.pos + 1
    ), asg AS (
        SELECT cid, n_tokens, shard,
               shard * 4294967296 + pack_local AS pack_id,
               fill - n_tokens AS off,
               CAST(row_number() OVER (
                   PARTITION BY shard, pack_local
                   ORDER BY fill - n_tokens
               ) - 1 AS BIGINT) AS seg
        FROM walk
    ), win AS (
        SELECT a.pack_id, a.shard,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(a.n_tokens) AS BIGINT) AS pack_tokens,
               CAST(128 - sum(a.n_tokens) AS BIGINT) AS pad_tokens,
               flatten(list(c.ctoks ORDER BY a.off)) AS ids,
               flatten(list([a.seg FOR i IN range(a.n_tokens)]
                            ORDER BY a.off)) AS segs,
               flatten(list([CAST(i AS BIGINT)
                             FOR i IN range(a.n_tokens)]
                            ORDER BY a.off)) AS poss
        FROM asg a JOIN chunks c USING (cid)
        GROUP BY a.pack_id, a.shard
    )
    SELECT pack_id, shard, n_docs, pack_tokens, pad_tokens,
           ids || [CAST(-1 AS BIGINT) FOR i IN range(128 - len(ids))]
               AS input_ids,
           segs || [CAST(-1 AS BIGINT) FOR i IN range(128 - len(segs))]
               AS segment_ids,
           poss || [CAST(-1 AS BIGINT) FOR i IN range(128 - len(poss))]
               AS position_ids
    FROM win
    """,
)
def q287_training_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END TRAINING PIPELINE (VERDICT r11 #4) — the artifact a
    user actually ships, as ONE declared query hashing the FINAL
    tensors: quality filter (q99's Gopher/C4 rule stack: length,
    token-diversity, punctuation-quality gates) → exact dedup
    (functions/dedup.py::dedup_exact, first-seen survivor per
    normalized fingerprint) → data-constrained selection
    (functions/selection.py::repeat_to_budget at 0.8x per-source
    quotas — a sub-size budget, so the plan degenerates to the pure
    deterministic remainder race: a reproducible 80%-by-tokens
    subset per source) → encode (word_token_ids over the SELECTED
    corpus — the vocabulary is a pipeline artifact, so it must be
    built after selection, which the oracle restates) → chunk
    (functions/chunking.py::chunk_token_ids, 32-token windows over
    the id ARRAYS — chunk counts and the tensor length gate share
    one tokenizer vintage by construction; executor-raising 2^20
    stride gate) → pack (next-fit, budget 128, n_shards=7 — coprime
    to the power-of-two stride, see q286) → tensor export
    (pack_token_windows with attention metadata). Composition bugs
    are exactly what this gates: an id-space mismatch between chunk
    and pack, a vintage mismatch between selection weights and
    encoded counts, or a filter/dedup order swap all flip the hash.
    Every stage is individually gated elsewhere (q99/q23/q282/q281/
    q270/q279) — this pins their COMPOSITION, element-for-element
    through the final pad tails. The chain ships as ONE library
    call — functions/pipeline.py::prepare_training_tensors — and
    this query runs THAT function, so the product surface a user
    invokes is exactly what the oracle hashes."""
    from ..functions.pipeline import prepare_training_tensors

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    # quality gate — q99's predicate stack, same rounding
    toks = F.split(F.lower(F.trim("text")), r"\s+")
    n_tok = F.size(toks)
    diversity = F.size(F.array_distinct(toks)) / n_tok.cast("double")
    punct = F.length(
        F.regexp_replace(F.col("text"), r"[^.,;:!?]", "")
    ) / F.greatest(F.length(F.col("text")), F.lit(1))
    raw_tok = F.size(F.split(F.trim("text"), r"\s+"))
    quality = _sround(
        F.least(raw_tok / F.lit(50.0), F.lit(1.0))
        * (F.lit(1.0) - punct),
        4,
    )
    return prepare_training_tensors(
        d,
        filter_expr=(
            (n_tok >= 10) & (diversity >= 0.5) & (quality >= 0.3)
        ),
        budget_factor=0.8,
        chunk_size=32,
        pack_budget=128,
        n_shards=7,
        pad_id=-1,
        with_metadata=True,
    )

def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship query for the driver's smoke check."""
    return q03_join_revenue(spark, sf_dir)
