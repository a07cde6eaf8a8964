"""Embedding clustering: distributed Lloyd iterations (k-means) for
semantic curation — diversity sampling, cluster-balanced mixtures,
semantic dedup all start from "group the corpus by embedding".

This module owns the Lloyd rules of the whole vector family: k-means
here, PQ training (pq.py) and the hot-list splits of the IVF and
IVFPQ rebalances (ann_index.py, ivfpq.py) all run the centroid update
of :func:`_centroid_rows`, and both rebalances split through
:func:`_split_hot_lists`. The rules:

- SEEDS: the lowest-id vectors, 6dp-rounded.
- ASSIGN: the centroids are bounded, so they are collected and
  embedded as a LITERAL array; every vector computes its argmax
  (cosine desc, centroid id asc — a total order, so assignment is
  deterministic) as a codegen fold. ZERO shuffle and zero expansion
  of the corpus — the earlier broadcast-join + Window(row_number)
  form expanded every row k× and shuffled the expanded set per
  iteration, an avoidable k×-corpus shuffle at 100 TB.
- RECOMPUTE: element-wise centroid mean via posexplode → (cluster,
  pos) average → re-assemble, i.e. one combinable aggregate over
  |corpus| × dim value rows, then a k×dim result — tiny. Collecting
  that k×dim result to the driver per round (to build the next
  literal) is the same bounded-driver move the IVF probe list makes.

Every centroid component is rounded through DECIMAL(30,10) to 6
decimals after each recompute: cross-engine float discipline (both
engines then rank IDENTICAL doubles, so assignments match exactly —
the same _sround contract the query corpus uses everywhere), and at
scale the rounding is free.

Iteration count is a fixed parameter (the standard bounded-iteration
contract for distributed k-means; convergence-based stopping adds a
driver round-trip per iteration and is rarely worth it on huge
corpora).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .similarity import _round6_py, collect_pivot_rows, nearest_pivot

__all__ = ["kmeans_assignments"]


def _round6(col):
    return F.round(col.cast("decimal(30,10)"), 6).cast("double")


def _centroid_rows(
    frame: DataFrame, keys: list[str], vec: str = "vec"
) -> list[tuple[tuple[int, ...], list[float]]]:
    """The Lloyd centroid update: the component mean of *vec* per
    *keys* group (columns or nested fields of *frame*), each component
    6dp-rounded — one combinable aggregate over (keys, pos),
    re-assembled in position order. Returns ``[(key values,
    centroid)]`` sorted by the keys; a group with no rows (an emptied
    cluster) is absent."""
    exploded = frame.select(*keys, F.posexplode(vec).alias("pos", "val"))
    names = exploded.columns[:-2]
    rows = (
        exploded.groupBy(*names, "pos")
        .agg(_round6(F.avg("val")).alias("cv"))
        .groupBy(*names)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cv"))),
                lambda s: s["cv"],
            ).alias("centroid")
        )
        .collect()
    )
    return sorted(
        (tuple(int(r[k]) for k in names), [float(x) for x in r["centroid"]])
        for r in rows
    )


def kmeans_assignments(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iterations: int = 2,
    literal_max: int = 64,
) -> DataFrame:
    """Assign every vector to a cluster after *iterations* Lloyd
    rounds from deterministic seeds (the k lowest-id vectors).

    Up to *literal_max* centroids the assignment is the shuffle-free
    literal-pivot codegen argmax; past it (k derived from corpus size
    can reach the thousands — see semantic_dedup) the same argmax runs
    as one numpy matmul per Arrow batch (nearest_pivot_batched):
    the k×dim literal expression would otherwise grow into a
    megabyte-scale parse with k×dim interpreted fold ops per row.
    Both paths are shuffle-free over the corpus and share the
    (sim desc, pid asc) tie order; oracle-checked queries keep
    k ≤ literal_max so the bit-exact literal path decides.

    Returns (id, cluster_id, sim) where sim is the cosine to the final
    centroid the row is assigned to."""
    from .similarity import nearest_pivot_batched

    vecs = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
    )
    centroid_rows = collect_pivot_rows(
        vecs.orderBy(F.col("id").asc())
        .limit(k)
        .select(
            F.col("id").alias("cluster_id"),
            F.transform("vec", lambda x: _round6(x)).alias("centroid"),
        ),
        "cluster_id",
        "centroid",
    )

    def assign(cent_rows) -> DataFrame:
        if len(cent_rows) <= literal_max:
            # literal-centroid argmax: a single codegen projection over
            # the corpus — no join, no window, no shuffle
            return vecs.withColumn(
                "best", nearest_pivot("`vec`", cent_rows)
            ).select(
                "id",
                "vec",
                F.col("best.pid").alias("cluster_id"),
                (-F.col("best.nsim")).alias("sim"),
            )
        # large-k path: Arrow-batched numpy argmax, still shuffle-free
        return vecs.withColumn(
            "best", nearest_pivot_batched(cent_rows)(F.col("vec"))
        ).select(
            "id",
            "vec",
            F.col("best.pid").alias("cluster_id"),
            F.col("best.sim").alias("sim"),
        )

    for _ in range(iterations - 1):
        centroid_rows = [
            (cid, cent)
            for (cid,), cent in _centroid_rows(
                assign(centroid_rows), ["cluster_id"]
            )
        ]
    return assign(centroid_rows).select("id", "cluster_id", "sim")


def _split_hot_lists(
    members: DataFrame,
    hot: dict[int, int],
    max_list_size: int,
    iterations: int,
    pivot_rows: list,
):
    """Split every hot inverted list with ceil(size/cap)-way spherical
    k-means, all lists JOINTLY: *members* holds the hot lists' rows
    ``(list_id, vec_id, vec, ...)`` (pinned by the caller — the Lloyd
    rounds and the caller's rewrite both reuse it), *hot* their sizes,
    *pivot_rows* the index's current ``[(list_id, pivot)]``.

    Seeds are each list's lowest-id vectors (6dp-rounded); each list's
    assignment is a literal-centroid fold selected by a CASE on
    list_id, so every Lloyd round is one scan over all hot lists —
    O(rounds) jobs per pass instead of O(rounds x hot lists). The
    post-assignment means become the new pivots, under ids above the
    current maximum. A list whose members all land in one cell
    (identical vectors) cannot split and is left in place.

    Returns ``(moved, pivots, split)``: the moved rows with their new
    ``list_id`` (member columns otherwise unchanged), the new
    ``[(list_id, pivot)]`` set, and the sorted ids of the lists that
    split (empty when none could)."""
    next_id = max(pid for pid, _ in pivot_rows) + 1
    pivots = dict(pivot_rows)
    k_split = {
        L: max(2, int(math.ceil(n / max_list_size))) for L, n in hot.items()
    }
    w = Window.partitionBy("list_id").orderBy(F.asc("vec_id"))
    seed_rows = (
        members.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= max(k_split.values()))
        .collect()
    )
    books: dict[int, list] = {L: [] for L in hot}
    for r in sorted(seed_rows, key=lambda r: (r["list_id"], r["rn"])):
        L = int(r["list_id"])
        if len(books[L]) < k_split[L]:
            books[L].append(
                (len(books[L]), [_round6_py(float(x)) for x in r["vec"]])
            )

    def assigned(frame):
        # per-list literal argmax behind a CASE: one projection, all
        # hot lists, zero shuffle
        expr = None
        for L in sorted(books):
            c = nearest_pivot("`vec`", books[L])["pid"]
            cond = F.col("list_id") == L
            expr = F.when(cond, c) if expr is None else expr.when(cond, c)
        return frame.withColumn("sub", expr)

    for _ in range(iterations - 1):
        rows = _centroid_rows(assigned(members), ["list_id", "sub"])
        books = {L: [] for L in hot}
        for (L, s), cent in rows:
            books[L].append((s, cent))
    final = assigned(members).localCheckpoint()
    # post-assignment means: the new pivots, and which (list, sub)
    # cells are present
    cells: dict[int, list] = {}
    for (L, s), cent in _centroid_rows(final, ["list_id", "sub"]):
        cells.setdefault(L, []).append((s, cent))
    id_map: dict[tuple[int, int], int] = {}
    split = []
    for L in sorted(hot):
        if len(cells.get(L, [])) < 2:
            continue  # degenerate (identical vectors): cannot split
        for s, cent in cells[L]:
            id_map[(L, s)] = next_id
            pivots[next_id] = cent
            next_id += 1
        del pivots[L]
        split.append(L)
    if not split:
        return None, sorted(pivots.items()), split
    mapping = F.create_map(
        *[
            F.lit(x)
            for (L, s), nid in id_map.items()
            for x in (f"{L}_{s}", nid)
        ]
    )
    mkey = F.concat_ws("_", F.col("list_id"), F.col("sub"))
    moved = (
        final.withColumn("new_list", mapping[mkey])
        .where(F.col("new_list").isNotNull())  # degenerate lists stay
        .select(
            *[c for c in members.columns if c != "list_id"],
            F.col("new_list").alias("list_id"),
        )
    )
    return moved, sorted(pivots.items()), split


def _rebalance_rounds(one_pass, max_rounds: int) -> int:
    """Run *one_pass* (returning the number of lists it split) until a
    pass splits nothing or *max_rounds* passes ran; the total split.
    k-means splits are not perfectly balanced, so a sub-list can still
    exceed the cap — the next pass re-reads only the still-hot
    lists."""
    total = 0
    for _ in range(max_rounds):
        n = one_pass()
        total += n
        if n == 0:
            break
    return total
