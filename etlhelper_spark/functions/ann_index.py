"""Persistent IVF index: ANN search as a build-once / probe-many
pipeline with REAL partition pruning.

`ivf_topk` (similarity.py) computes the inverted lists inline — right
for one-shot queries, wasteful when the same corpus is probed
repeatedly. Here the index is a parquet table partitioned by
`list_id`: probing `nprobe` of `nlist` lists becomes a scan whose
PartitionFilters eliminate the other directories entirely (asserted in
tests), so each query batch reads ~nprobe/nlist of a 100 TB corpus —
the file-layout realization of the IVF idea, built from nothing but
`partitionBy` + partition pruning.

The probed list ids (≤ |queries| × nprobe ints) are collected to the
driver deliberately: a literal IN-filter is what lets the file index
prune directories before any data is read. Pivots live under the
`_pivots` subdirectory — the leading underscore hides it from Spark's
file listing, so the index directory stays a clean partitioned table.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..state import store
from .clustering import _rebalance_rounds, _split_hot_lists
from .similarity import (
    collect_pivot_rows,
    cosine_similarity,
    nearest_pivot,
    nearest_pivots,
)
from .util import (
    count_parquet_rows,
    read_parquet_state,
    in_values,
    literal_frame,
    load_pivot_rows,
    parquet_partition_counts,
    parquet_schema_names,
    write_pivot_rows,
)

__all__ = [
    "adaptive_widen",
    "append_ivf_index",
    "build_ivf_index",
    "query_ivf_index",
    "query_ivf_index_adaptive",
    "rebalance_ivf_index",
]


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    nlist: int = 16,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    attr_cols: list[str] | None = None,
) -> tuple[int, int]:
    """Assign every corpus vector to its nearest pivot and persist the
    inverted lists as a parquet table partitioned by ``list_id``.

    Pivots are the ``nlist`` lowest-id corpus rows (deterministic — a
    k-means refinement would drop in here without changing the
    layout), collected to a literal array so the assignment is a pure
    codegen argmax projection: the corpus is scanned once and written
    once, with NO shuffle anywhere in the build (the old
    broadcast-join + Window form shuffled an nlist×-expanded corpus).

    *attr_cols* makes the index COVERING for filtered search: those
    corpus columns ride in the index rows, so an attribute predicate
    at query time pushes into the pruned scan (PushedFilters) instead
    of forcing a join back to the row store — the standard layout for
    'nearest neighbors WHERE lang = ...' workloads. Returns
    (n_vectors, nlist)."""
    pivots = (
        corpus.orderBy(F.col(corpus_id).asc())
        .limit(nlist)
        .select(
            F.col(corpus_id).alias("list_id"), F.col(vec_col).alias("pivot")
        )
    )
    pivot_rows = collect_pivot_rows(pivots, "list_id", "pivot")
    attrs = list(attr_cols or [])
    c = corpus.select(
        F.col(corpus_id).alias("vec_id"),
        F.col(vec_col).alias("vec"),
        *[F.col(a) for a in attrs],
    )
    assigned = c.select(
        "vec_id",
        "vec",
        *attrs,
        nearest_pivot("`vec`", pivot_rows)["pid"].alias("list_id"),
    )
    assigned.write.partitionBy("list_id").mode("overwrite").parquet(path)
    # pivot_rows are already collected: persist the sidecar driver-side
    # (one fewer Spark write job per build — util.write_pivot_rows)
    write_pivot_rows(os.path.join(path, "_pivots"), pivot_rows)
    # footer-sum count (util.count_parquet_rows): the write above is
    # complete, so the footers ARE the table — no listing + scan job
    n = count_parquet_rows(path)
    return n, nlist


def append_ivf_index(
    new_corpus: DataFrame,
    path: str,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Add a new batch of vectors to a persisted IVF index WITHOUT
    rebuilding it — the ingest path of a build-once/probe-many ANN
    deployment (new documents arrive continuously; re-clustering 100 TB
    per batch is not an option).

    The stored pivots are read back and the new batch runs the SAME
    literal-argmax assignment the build used, then appends into the
    existing ``list_id=`` partition directories (parquet append —
    new files land inside each list's directory, so partition pruning
    at probe time is unchanged). Per-batch cost: one linear scan of
    the batch, zero shuffle, O(batch) write. Because assignment
    depends only on the (frozen) pivots, an index built on batch 1 and
    appended with batch 2 is CONTENT-IDENTICAL to one built on the
    union — probe results are equal row-for-row (pinned in
    tests/test_ann_index.py; oracle-verified via q180's per-list
    recomputation). The known trade of frozen pivots: list balance
    degrades if the data distribution drifts — monitor list sizes and
    rebuild when skew warrants, exactly like any IVF deployment.
    Returns the number of appended vectors."""
    pivot_rows = load_pivot_rows(os.path.join(path, "_pivots"))
    # a covering index's attribute columns are discovered from the
    # stored schema, so appends stay layout-identical automatically —
    # one data-file footer read driver-side (list_id is the partition
    # directory, never in the footer), not a tree-listing Spark read
    names = parquet_schema_names(path)
    if names is None:
        raise ValueError(
            f"append_ivf_index: no parquet data file under {path}"
        )
    attrs = [n for n in names if n not in ("vec_id", "vec", "list_id")]
    c = new_corpus.select(
        F.col(corpus_id).alias("vec_id"),
        F.col(vec_col).alias("vec"),
        *[F.col(a) for a in attrs],
    )
    assigned = c.select(
        "vec_id",
        "vec",
        *attrs,
        nearest_pivot("`vec`", pivot_rows)["pid"].alias("list_id"),
    )
    # footer-delta count (single-writer store contract): one assign
    # scan feeds the write; the appended count is the footer-sum delta
    # — no checkpoint job, no re-scan of the batch
    before = count_parquet_rows(path)
    assigned.write.partitionBy("list_id").mode("append").parquet(path)
    return count_parquet_rows(path) - before


def query_ivf_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    query_id: str = "vec_id",
    vec_col: str = "embedding",
    attr_filter=None,
    _preloaded: tuple | None = None,
    _probe_lo: int = 0,
    _raw: bool = False,
) -> DataFrame:
    """Top-k cosine search against a persisted IVF index.

    Each query ranks the (tiny, broadcast) pivot set, keeps its
    ``nprobe`` nearest lists, and the union of probed list ids becomes
    a literal IN-filter on the partition column — the scan prunes
    every unprobed directory before reading a byte. Exact cosine +
    per-query top-k run only within each query's own probed lists.

    *attr_filter* (a Column or SQL string over the index's covering
    attribute columns — build_ivf_index's ``attr_cols``) is FILTERED
    SEARCH: the predicate applies to the already-pruned scan and
    pushes into the parquet reader (PushedFilters, plan-asserted in
    tests), so 'top-k WHERE lang = x' reads only matching rows of
    probed lists — never a join back to the row store. Recall caveat
    is the standard one: a filter that excludes most of a probed list
    effectively shrinks nprobe; raise nprobe for selective filters.

    *_probe_lo*/*_raw* serve adaptive_widen's DELTA rounds: with
    _probe_lo=p only the lists ranked (p, nprobe] per query are probed
    (the widening loop already holds the candidates from ranks <= p in
    the previous round's checkpointed shortlist), and _raw skips the
    output's 4dp rounding so the loop's merge re-rank orders by the
    same unrounded sim this function ranks on internally."""
    if _preloaded is not None:
        # the adaptive widening loop re-probes: frozen pivots and the
        # index frame (whose construction re-lists the directory) are
        # loaded once there and threaded through
        pivot_rows, index_frame = _preloaded
    else:
        pivot_rows = load_pivot_rows(os.path.join(path, "_pivots"))
        index_frame = None
    q = queries.select(
        F.col(query_id).alias("query_id"), F.col(vec_col).alias("qv")
    )
    pid_arr = nearest_pivots("`qv`", pivot_rows, nprobe)["pid"]
    if int(_probe_lo) > 0:
        # delta round: ranks (_probe_lo, nprobe] only — slice of the
        # same sorted pid array, so the probed set is exactly the
        # full probe's minus the already-probed prefix
        pid_arr = F.slice(
            pid_arr, int(_probe_lo) + 1, int(nprobe) - int(_probe_lo)
        )
    q_probes = q.select(
        "query_id",
        "qv",
        F.explode(pid_arr).alias("list_id"),
    )
    # ≤ |queries| × nprobe ints — the literal filter that turns probing
    # into partition pruning
    probed = sorted(
        r["list_id"]
        for r in q_probes.select("list_id").distinct().collect()
    )
    if index_frame is None:
        index_frame = read_parquet_state(spark, path)
    index = index_frame.where(in_values("list_id", probed))
    if attr_filter is not None:
        index = index.where(attr_filter)
    scored = (
        index.join(F.broadcast(q_probes), "list_id")
        .where(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine_similarity(F.col("qv"), F.col("vec")).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    sim_out = F.col("sim") if _raw else F.round("sim", 4)
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", sim_out.alias("sim"))
    )

def query_ivf_index_adaptive(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe0: int = 2,
    query_id: str = "vec_id",
    vec_col: str = "embedding",
    attr_filter=None,
    oversample: int = 4,
) -> DataFrame:
    """FILTERED top-k search with ADAPTIVE probe widening — the
    production form of query_ivf_index's documented recall caveat: a
    selective attribute filter (1/50 instead of q238's 1/5) empties
    most of a probed list, so any FIXED nprobe either under-recalls
    selective filters or over-scans permissive ones. Here each query
    starts at *nprobe0*, and queries whose filtered OVERSAMPLED
    shortlist came back short (fewer than k x *oversample* survivors)
    re-probe with nprobe doubled, until the shortlist fills or nprobe
    reaches nlist (at which point the scan IS the exact filtered
    search and recall is 1.0 by construction); the final answer trims
    to top-k. Oversampling is what makes count-based stopping honest:
    merely finding k candidates says nothing about whether the TRUE
    top-k were probed, but demanding oversample x k forces coverage
    proportional to the filter's selectivity (the same
    refine_factor logic query_ivfpq_index's two-tier probe uses).
    Satisfied queries never re-probe: each widening round runs only
    the deficient subset, and the per-round candidate counts are a
    bounded |queries|-row collect — the same bounded-query-side
    contract every probe in this suite makes.

    Returns (query_id, neighbor_id, rank, sim, nprobe_used, n_iters):
    the probe width and iteration count each query actually needed —
    the observability a production gate wants (a creeping n_iters
    distribution says the filter got more selective or the lists more
    skewed). Deterministic: widening decisions are exact row counts,
    never float comparisons."""
    pivot_rows = load_pivot_rows(os.path.join(path, "_pivots"))
    nlist = len(pivot_rows)
    preloaded = (pivot_rows, read_parquet_state(spark, path))

    def probe(pending, np_eff, shortlist, lo=0, ids=None):
        return query_ivf_index(
            spark,
            path,
            pending,
            k=shortlist,
            nprobe=np_eff,
            query_id=query_id,
            vec_col=vec_col,
            attr_filter=attr_filter,
            _preloaded=preloaded,
            _probe_lo=lo,
            # unrounded sim through the widening rounds so the delta
            # merge re-ranks by the exact order each probe ranked on;
            # rounded once below, on the final rows only
            _raw=True,
        )

    out = adaptive_widen(
        spark, queries, query_id, nlist, k, nprobe0, oversample, probe
    )
    return out.where(F.col("rank") <= int(k)).withColumn(
        "sim", F.round("sim", 4)
    )


def adaptive_widen(
    spark: SparkSession,
    queries: DataFrame,
    query_id: str,
    nlist: int,
    k: int,
    nprobe0: int,
    oversample: int,
    probe_fn,
    score_col: str = "sim",
    initial_ids: list | None = None,
) -> DataFrame:
    """The shared probe-WIDENING loop behind query_ivf_index_adaptive
    and ivfpq.query_ivfpq_index_adaptive (one implementation — the
    stopping logic must never diverge between the float and codes
    paths): each round runs *probe_fn(pending, nprobe, shortlist,
    probe_lo, pending_ids)* over ONLY the still-deficient queries,
    counts each query's filtered shortlist (a bounded |queries|-row
    collect of exact counts — never float comparisons), doubles nprobe
    for the deficient subset, and stops when every shortlist fills or
    the probe covers all *nlist* lists. Pending ids are collected ONCE
    (round 1, or supplied via *initial_ids* by a caller that already
    holds them) and thereafter reused from the deficient list itself —
    no per-round re-collect. Returns the union of per-round results
    with nprobe_used/n_iters attached; the caller trims to top-k.

    Widening rounds are DELTA probes: round r scans only the lists
    ranked (nprobe_{r-1}, nprobe_r] per deficient query and re-ranks
    their candidates UNIONED with the previous round's checkpointed
    shortlist, instead of re-scanning every previously probed list.
    This is row-identical to the full re-probe: each vector lives in
    exactly one inverted list (frozen-pivot assignment over one
    consistent index read), per-(query, neighbor) scores are
    deterministic and round-independent, and the rank order
    (*score_col* desc, neighbor_id asc) is a total order — so the
    true top-*shortlist* over the widened probe is contained in
    prev-top-shortlist ∪ delta-top-shortlist, and re-ranking the
    union reproduces both the rows and their exact ranks."""
    from .util import in_values, literal_frame

    # Each round materializes ONCE: the probe result is lazily
    # localCheckpoint'ed and the bounded per-query counts collect is
    # the action that materializes it — one job per round where the
    # eager-checkpoint + separate-count form paid two. The rows stay
    # on the executors (no driver shipping beyond the counts); the
    # result is the union of the per-round checkpoints exactly as
    # before.
    out_parts = []
    pending = queries
    pending_ids = list(initial_ids) if initial_ids is not None else None
    nprobe = max(1, int(nprobe0))
    prev_np = 0
    prev_got = None
    iters = 0
    shortlist = int(k) * max(1, int(oversample))
    while True:
        iters += 1
        np_eff = min(nprobe, nlist)
        if prev_got is None:
            got = probe_fn(pending, np_eff, shortlist, 0, pending_ids)
        else:
            delta = probe_fn(
                pending, np_eff, shortlist, prev_np, pending_ids
            )
            base = prev_got.where(
                in_values("query_id", pending_ids)
            ).drop("rank")
            w = Window.partitionBy("query_id").orderBy(
                F.desc(score_col), F.asc("neighbor_id")
            )
            got = (
                base.unionByName(delta.drop("rank"))
                .withColumn("rank", F.row_number().over(w))
                .where(F.col("rank") <= shortlist)
            )
        got = got.localCheckpoint(eager=False)
        counts = {
            r["query_id"]: int(r["n"])
            for r in got.groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        if pending_ids is None:
            pending_ids = [
                int(r[query_id])
                for r in pending.select(query_id).collect()
            ]
        deficient = [
            q for q in pending_ids if counts.get(q, 0) < shortlist
        ]
        done_now = (
            got
            if nprobe >= nlist or not deficient
            else got.join(
                F.broadcast(
                    literal_frame(
                        spark,
                        [(int(x),) for x in deficient],
                        "query_id long",
                    )
                ),
                "query_id",
                "left_anti",
            )
        )
        out_parts.append(
            done_now.select(
                "*",
                F.lit(np_eff).alias("nprobe_used"),
                F.lit(iters).alias("n_iters"),
            )
        )
        if nprobe >= nlist or not deficient:
            break
        pending = queries.where(in_values(query_id, deficient))
        pending_ids = deficient
        prev_np = np_eff
        prev_got = got
        nprobe = min(nprobe * 2, nlist)
    out = out_parts[0]
    for part in out_parts[1:]:
        out = out.unionByName(part)
    return out


def rebalance_ivf_index(
    spark: SparkSession,
    path: str,
    max_list_size: int,
    iterations: int = 2,
    max_rounds: int = 8,
) -> int:
    """Split every inverted list above *max_list_size* — the
    maintenance operation the append path creates demand for
    (append_ivf_index documents the trade of frozen pivots: list
    balance degrades as the data distribution drifts; a hot list makes
    every probe that touches it scan-heavy).

    Each pass reads the hot lists' members back through partition
    pruning (ONLY the hot directories are ever scanned — cold lists
    are not read, not moved, not rewritten), splits them with
    clustering._split_hot_lists (the suite's one hot-list splitter),
    writes the moved rows as fresh ``list_id=`` partitions, rewrites
    ``_pivots`` and removes the split lists' directories. Probes and
    appends pick up the new pivot set on their next ``_pivots`` read —
    assignment semantics are unchanged (cosine argmax over whatever
    pivots exist). Passes repeat until no splittable list is hot or
    *max_rounds* is reached.

    Progress guarantee: with >= 2 distinct seed vectors each seed's own
    vector stays with its seed (self-cosine = 1), so every sub-list is
    strictly smaller than the list it split from — each pass shrinks
    every hot splittable list, so the loop terminates. A list of
    bit-identical vectors cannot split and is left in place (callers
    watching skew should dedup such lists upstream, cf.
    embedding_lsh_incremental's identical-vector collapse).

    NOT crash-atomic: new partitions land before the pivot rewrite and
    the old directory removal, so a crash can leave a vector visible
    in both its old and new list until the rebalance is re-run — probe
    results may transiently contain duplicate neighbors, never missing
    ones. Re-running the rebalance converges. Returns the total number
    of lists split across passes."""
    return _rebalance_rounds(
        lambda: _rebalance_pass(spark, path, max_list_size, iterations),
        max_rounds,
    )


def _rebalance_pass(
    spark: SparkSession,
    path: str,
    max_list_size: int,
    iterations: int,
) -> int:
    """One splitting pass: the hot lists' members come from ONE pruned
    index scan and their moved rows carry ``vec`` and any covering
    attributes."""
    # per-list sizes from parquet footers driver-side (util.
    # parquet_partition_counts): the writes this pass follows are
    # complete, so the footers ARE the table — the groupBy(list_id)
    # count scan this replaces ran on EVERY pass, including the
    # terminal one that finds nothing hot
    hot = {
        L: n
        for L, n in parquet_partition_counts(path, "list_id").items()
        if n > max_list_size
    }
    if not hot:
        return 0
    pivots_path = os.path.join(path, "_pivots")
    # ONE pruned scan feeds every hot list's k-means (cold lists are
    # never read); pinned so the Lloyd rounds and the rewrite reuse it.
    # Every index column rides along, so the moved rows of a covering
    # index keep their attributes
    members = (
        read_parquet_state(spark, path)
        .where(in_values("list_id", sorted(hot)))
        .localCheckpoint()
    )
    moved, pivots, split = _split_hot_lists(
        members, hot, max_list_size, iterations, load_pivot_rows(pivots_path)
    )
    if not split:
        return 0
    moved.write.partitionBy("list_id").mode("append").parquet(path)
    # driver-known pivot set: persist driver-side (one fewer Spark
    # write job per rebalance pass — util.write_pivot_rows)
    write_pivot_rows(pivots_path, pivots)
    for L in split:
        store.remove(os.path.join(path, f"list_id={L}"))
    return len(split)
