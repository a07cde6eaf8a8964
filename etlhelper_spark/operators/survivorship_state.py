"""Incremental GOLDEN-RECORD state — survivorship maintained over an
unbounded batch sequence, the MDM member of the persisted-state family
(dedup_state's fingerprints, quantile_state's KLL, drift_state's
histograms).

Why survivorship merges: the per-field winner under (version desc,
source-priority asc, record-id asc) is an argmax under a TOTAL order —
an associative, commutative semigroup. So the state per (cluster,
field) is just the current winner TOGETHER WITH ITS ORDERING KEY, and
folding a new batch is: compute the batch's own winners (one
partial-aggregatable max_by pass, operators/survivorship.py's shape),
then take the struct-max of state and batch winner per field — an
O(|clusters touched|) full-outer join, never a re-scan of history.
Record counts add. The result after any batch sequence equals
golden_records over the concatenation (pinned in tests and by q262's
full-recompute oracle), independent of arrival order of EQUAL-KEYED
records because the order is total (record id breaks every tie).

Versioned replay-idempotence (the dedup_state convention): each apply
reads the newest state version strictly below its *batch_id* and
overwrites ``v<batch_id>`` — an at-least-once redelivery recomputes
the identical rows into the identical directory.

At 100 TB: per batch one aggregate scan of the batch + one outer join
keyed on cluster_id against state that is one row per entity (not per
record); no windows, no history re-read.

Reference parity note: the reference (a DB-API cursor wrapper,
/root/reference/etlhelper/etl.py) has no survivorship machinery; this
extends the suite's incremental-state family.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..state.store import commit_version, read_latest

__all__ = [
    "golden_incremental",
    "read_golden_state",
    "remap_golden_clusters",
    "streaming_golden",
]


def _golden_structs(
    records: DataFrame,
    cluster_col: str,
    id_col: str,
    field_cols: list[str],
    version_col: str,
    source_col: str | None,
    source_priority: dict[str, int] | None,
) -> DataFrame:
    """One row per cluster carrying, for each field, the winner
    PAYLOAD WITH ITS ORDERING KEY (``__win_<f>`` = struct(ord, val,
    src_id[, source])) — golden_records' aggregate pass, keeping the
    ord struct so winners stay mergeable across batches."""
    from .survivorship import _check_numeric_id

    if source_priority and source_col is None:
        raise ValueError("source_priority requires source_col")
    _check_numeric_id(records, id_col, "golden_incremental")
    if source_col is not None:
        prio_map = source_priority or {}
        entries = []
        for name, rank in prio_map.items():
            entries.append(F.lit(name))
            entries.append(F.lit(int(rank)))
        if entries:
            prio = F.coalesce(
                F.element_at(F.create_map(*entries), F.col(source_col)),
                F.lit(2**31 - 1),
            )
        else:
            prio = F.lit(0)
    else:
        prio = F.lit(0)
    aggs = [F.count(F.lit(1)).alias("n_records")]
    for f in field_cols:
        ordering = F.struct(
            F.col(version_col).alias("v"),
            (-prio).alias("np"),
            (-F.col(id_col)).alias("ni"),
        )
        payload = [
            ordering.alias("ord"),
            F.col(f).alias("val"),
            F.col(id_col).alias("src_id"),
        ]
        if source_col is not None:
            payload.append(F.col(source_col).alias("source"))
        aggs.append(
            F.max_by(
                F.struct(*payload),
                F.when(F.col(f).isNotNull(), ordering),
            ).alias(f"__win_{f}")
        )
    return records.groupBy(F.col(cluster_col).alias("cluster_id")).agg(
        *aggs
    )


def golden_incremental(
    new_df: DataFrame,
    state_dir: str,
    batch_id: int,
    cluster_col: str,
    id_col: str,
    field_cols: list[str],
    version_col: str,
    source_col: str | None = None,
    source_priority: dict[str, int] | None = None,
) -> str:
    """Fold a record batch into the persisted golden-record state and
    return the state version directory written. The caller contract
    (same columns, same priority map every batch) is the histogram-
    edges discipline: the ord struct's meaning must not drift between
    batches — a changed schema fails the merge join loudly."""

    spark = new_df.sparkSession
    subdir = os.path.join(state_dir, "golden")
    batch_state = _golden_structs(
        new_df,
        cluster_col,
        id_col,
        field_cols,
        version_col,
        source_col,
        source_priority,
    )
    prior = read_latest(spark, subdir, int(batch_id))
    if prior is None:
        merged = batch_state
    else:
        a = prior.alias("a")
        b = batch_state.alias("b")
        cols = [
            F.coalesce(a["cluster_id"], b["cluster_id"]).alias(
                "cluster_id"
            ),
            (
                F.coalesce(a["n_records"], F.lit(0))
                + F.coalesce(b["n_records"], F.lit(0))
            ).alias("n_records"),
        ]
        for f in field_cols:
            wa = a[f"__win_{f}"]
            wb = b[f"__win_{f}"]
            cols.append(
                F.when(wa.isNull(), wb)
                .when(wb.isNull(), wa)
                .when(wa["ord"] >= wb["ord"], wa)
                .otherwise(wb)
                .alias(f"__win_{f}")
            )
        # eqNullSafe: golden_records groups NULL cluster ids into one
        # cluster, so the merge must too — plain equality would never
        # match null==null and duplicate null-cluster rows would
        # accumulate across batches, breaking merge-equals-recompute
        merged = a.join(
            b, a["cluster_id"].eqNullSafe(b["cluster_id"]), "full"
        ).select(*cols)
    return commit_version(merged, subdir, batch_id)


def remap_golden_clusters(
    spark,
    state_dir: str,
    mapping_df: DataFrame,
    batch_id: int,
    state_partitions: int = 1,
) -> str:
    """Fold CLUSTER MERGES into the golden-record state: when a new
    linkage batch links two existing entities (q252's connected
    components merge their clusters), the state holds two rows that
    must become one under the surviving cluster id. Because each
    ``__win_<f>`` struct still carries its ordering key, the merge is
    the SAME associative argmax golden_incremental uses — rename, then
    one groupBy taking the ord-max winner per field and summing record
    counts. O(state) with no history re-scan; at scale the mapping is
    broadcast (bounded by the merge events, not the corpus).

    *mapping_df* is two columns ``(old_cluster_id, new_cluster_id)``
    — by position, names free — and must map straight to FINAL
    representatives: a chain (a->b while b->c) is rejected loudly,
    because one rename pass cannot resolve it (resolve chains with the
    connected-components labeling first — its min-label output is
    chain-free by construction). Identity rows are ignored.

    Versioned like every apply: reads the newest state strictly below
    *batch_id*, overwrites ``v<batch_id>`` — an at-least-once
    redelivery recomputes the identical directory. Returns the
    version directory written."""

    subdir = os.path.join(state_dir, "golden")
    state = read_latest(spark, subdir, int(batch_id))
    if state is None:
        raise ValueError(f"no golden state at {state_dir}")
    oc, nc = mapping_df.columns[0], mapping_df.columns[1]
    # NULL ids are rejected loudly (ADVICE r10): a NULL new id would
    # silently coalesce back to the OLD id (a no-op dressed as a
    # merge) and a NULL old id can never match the state join. The
    # raise rides INSIDE the projection (evaluated by the chain
    # check's own pass) — no standalone validation job over a mapping
    # whose upstream lineage may be expensive.
    bad = F.raise_error(
        F.lit(
            "remap_golden_clusters: mapping row carries a NULL "
            "cluster id — a merge event names two real clusters"
        )
    )
    m = mapping_df.select(
        F.when(F.col(oc).isNull(), bad.cast(mapping_df.schema[oc].dataType))
        .otherwise(F.col(oc))
        .alias("__old"),
        F.when(F.col(nc).isNull(), bad.cast(mapping_df.schema[nc].dataType))
        .otherwise(F.col(nc))
        .alias("__new"),
    ).where(F.col("__old") != F.col("__new"))
    chained = (
        m.alias("x")
        .join(
            m.alias("y"),
            F.col("x.__new") == F.col("y.__old"),
            "left_semi",
        )
        .count()
    )
    if chained:
        raise ValueError(
            f"remap_golden_clusters: {chained} mapping row(s) point at "
            f"an id that is itself remapped — resolve chains to final "
            f"representatives first"
        )
    renamed = state.join(
        F.broadcast(m), state["cluster_id"] == m["__old"], "left"
    ).select(
        F.coalesce("__new", "cluster_id").alias("cluster_id"),
        *[c for c in state.columns if c != "cluster_id"],
    )
    win_cols = [c for c in state.columns if c.startswith("__win_")]
    merged = renamed.groupBy("cluster_id").agg(
        F.sum("n_records").alias("n_records"),
        *[
            F.max_by(F.col(c), F.col(c)["ord"]).alias(c)
            for c in win_cols
        ],
    )
    return commit_version(
        merged.repartition(state_partitions), subdir, batch_id
    )


def streaming_golden(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    cluster_col: str,
    id_col: str,
    field_cols: list[str],
    version_col: str,
    source_col: str | None = None,
    source_priority: dict[str, int] | None = None,
) -> None:
    """STREAMING golden-record maintenance — the survivorship family's
    continuous-ingest loop (the same foreachBatch discipline as
    streaming_link and the streaming dedup modalities): every
    availableNow micro-batch folds into the versioned state through
    golden_incremental under its own micro-batch id, so an
    at-least-once redelivery recomputes the identical version
    directory (replay-idempotent), and because the merge is an
    associative argmax the drained state equals golden_records over
    the whole feed regardless of how the files were micro-batched.
    Starts and drains an availableNow query.

    Erasure mid-stream is safe: forget_from_golden_state writes an
    ERASE EPOCH (``v<k>.e<n>``) outside the batch-id space, so a
    checkpointed stream resumed after an erasure continues at its
    engine-assigned next id against the erased state — only a replay
    of the erased batch id itself is refused (sticky erasure; the
    engine never replays an already-committed id, so this fires only
    on checkpoint loss or manual renumbering)."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        golden_incremental(
            batch_df,
            state_dir,
            int(batch_id),
            cluster_col,
            id_col,
            field_cols,
            version_col,
            source_col,
            source_priority,
        )

    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def read_golden_state(spark, state_dir: str) -> DataFrame:
    """The newest golden-record state in golden_records' OUTPUT shape:
    (cluster_id, n_records, <f>, <f>__src_id[, <f>__source] per
    field) — the ord structs are internal and dropped here."""
    state = read_latest(spark, os.path.join(state_dir, "golden"), 2**62)
    if state is None:
        raise ValueError(f"no golden state at {state_dir}")
    cols = [F.col("cluster_id"), F.col("n_records")]
    for c in state.columns:
        if not c.startswith("__win_"):
            continue
        f = c[len("__win_"):]
        w = F.col(c)
        cols.append(w["val"].alias(f))
        cols.append(w["src_id"].alias(f"{f}__src_id"))
        if "source" in state.schema[c].dataType.fieldNames():
            cols.append(w["source"].alias(f"{f}__source"))
    return state.select(*cols)
