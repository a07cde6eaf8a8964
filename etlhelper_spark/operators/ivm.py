"""Incremental view maintenance for additive rollups.

The pattern behind every "keep the dashboard table fresh without
re-scanning history" pipeline: a persisted aggregate over an append
stream is updated by merging the NEW batch's partial aggregate into the
stored one. Works for any algebraic aggregate that decomposes into
mergeable partials — count, sum (and thus avg = sum/count), min, max —
which is the same property Spark itself exploits for map-side partial
aggregation.

At 100 TB the stored rollup is |groups| rows and the per-batch work is
O(batch) + a join against |groups| — history is never re-read. Deletes
arrive as negative deltas (count -1, sum -x), the CDC convention, so
the same merge handles retractions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.util import drain, read_parquet_state
from ..state import store


def rollup_partial(
    df: DataFrame, keys: list[str], sum_cols: dict[str, str]
) -> DataFrame:
    """One batch's partial aggregate: count + the named sums.

    ``sum_cols`` maps output column -> input column, e.g.
    ``{"sum_value": "value"}``. The output schema is the stored
    rollup's schema, so partials and stored state merge symmetrically.
    """
    aggs = [F.count("*").alias("n")]
    aggs += [F.sum(src).alias(dst) for dst, src in sum_cols.items()]
    return df.groupBy(*keys).agg(*aggs)


def merge_rollup(
    base: DataFrame,
    delta_partial: DataFrame,
    keys: list[str],
    drop_zero: bool = True,
) -> DataFrame:
    """Merge a delta's partial aggregate into the stored rollup.

    Full outer join on the group keys (the only shuffle, sized
    |groups|, not |history|), then each measure adds with
    null-as-zero. Groups whose merged count reaches 0 (pure
    retraction) are dropped, so insert-then-delete round-trips to
    absence. The result is exactly ``rollup_partial`` over the unioned
    inputs — asserted against a full recompute in the oracle of
    q162_incremental_rollup and in tests/test_round3_ops.py.

    ``drop_zero=False`` keeps zero-count groups: required when the
    result is INTERMEDIATE state of a mixed insert/delete feed, where
    one batch can legitimately net a group to count 0 with a NONZERO
    sum (delete of value x + insert of value y in the same batch) and
    a later batch revives it — dropping the group there silently loses
    y−x (caught by the sf0.001 gate replica; regression-tested in
    test_ivm_rescan.py). Drop only where count 0 implies all-zero
    measures: a FINAL state of a consistent feed, or a pure-retraction
    delta of previously-inserted rows.
    """
    measures = [c for c in base.columns if c not in keys]
    b = base.select(
        *keys, *[F.col(c).alias(f"__b_{c}") for c in measures]
    )
    d = delta_partial.select(
        *keys, *[F.col(c).alias(f"__d_{c}") for c in measures]
    )
    merged = b.join(d, keys, "full_outer").select(
        *keys,
        *[
            (
                F.coalesce(F.col(f"__b_{c}"), F.lit(0))
                + F.coalesce(F.col(f"__d_{c}"), F.lit(0))
            ).alias(c)
            for c in measures
        ],
    )
    return merged.where(F.col("n") != 0) if drop_zero else merged


def streaming_incremental_rollup(
    spark,
    sf_dir: str,
    checkpoint_dir: str,
    state_dir: str,
    source_files: int = 2,
    state_partitions: int = 1,
) -> DataFrame:
    """Streaming form of the rollup maintenance: each micro-batch's
    partial aggregate merges into parquet state via foreachBatch —
    the continuously-fresh dashboard table.

    State is versioned per batch (``state_dir/v{batch_id}``) and the
    merge reads the latest prior version, so a replayed batch
    overwrites its own version instead of double-counting — idempotent
    under foreachBatch's at-least-once contract, same ledger idea as
    the exactly-once JDBC sink. The events table is re-split into
    *source_files* files so availableNow genuinely exercises multiple
    incremental merges (one file per trigger); two files already prove
    a real cross-batch merge, and every extra batch is pure fixed
    streaming overhead (~0.5s of checkpoint/commit machinery), so the
    default stays minimal — raise it to stress more merge rounds.

    *state_partitions* sizes each state version's file count: state is
    |groups| rows (tiny relative to history — even millions of groups
    fit a handful of files), and writing it at the session's shuffle
    parallelism scatters it into dozens of near-empty parquet files
    whose per-batch commit+reread overhead dominates at bench scale.

    Returns the final state DataFrame; equals the batch rollup over
    all events (q163's oracle)."""
    import os

    from pyspark.sql import functions as F

    from ..sources import read_parquet_table

    split_dir = os.path.join(state_dir, "_source")
    read_parquet_table(
        spark, os.path.join(sf_dir, "events.parquet")
    ).repartition(source_files).write.mode("overwrite").parquet(split_dir)

    # the feed schema resolves from one footer driver-side (the bare
    # read.parquet(...).schema probe pays an inference job)
    stream = (
        spark.readStream.schema(read_parquet_state(spark, split_dir).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(split_dir)
        .select(
            "event_type",
            F.date_trunc("day", "ts").alias("day"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    keys = ["event_type", "day"]

    def upsert(batch_df, batch_id: int) -> None:
        partial = rollup_partial(batch_df, keys, {"value_cents": "cents"})
        base = store.read_latest(batch_df.sparkSession, state_dir, batch_id)
        merged = (
            merge_rollup(base, partial, keys) if base is not None else partial
        )
        store.commit_version(
            merged.repartition(state_partitions), state_dir, batch_id
        )

    drain(stream.writeStream.foreachBatch(upsert), checkpoint_dir)
    return store.read_latest(spark, state_dir)


def rollup_partial_monotonic(
    df: DataFrame,
    keys: list[str],
    sum_cols: dict[str, str] | None = None,
    min_cols: dict[str, str] | None = None,
    max_cols: dict[str, str] | None = None,
) -> DataFrame:
    """Partial aggregate extended with min/max measures.

    min/max are mergeable but NOT retraction-safe (deleting the
    current minimum cannot be undone from the aggregate alone), so
    views maintained with them accept APPEND-ONLY feeds — enforced by
    merge_rollup_monotonic rejecting negative counts."""
    aggs = [F.count("*").alias("n")]
    aggs += [F.sum(src).alias(dst) for dst, src in (sum_cols or {}).items()]
    aggs += [F.min(src).alias(dst) for dst, src in (min_cols or {}).items()]
    aggs += [F.max(src).alias(dst) for dst, src in (max_cols or {}).items()]
    return df.groupBy(*keys).agg(*aggs)


def merge_rollup_monotonic(
    base: DataFrame,
    delta_partial: DataFrame,
    keys: list[str],
    min_cols: list[str] = (),
    max_cols: list[str] = (),
) -> DataFrame:
    """Append-only merge for rollups carrying min/max measures:
    additive columns add, min/max columns combine with least/greatest.
    Raises at plan-execution time on retractions (negative delta
    counts) via an ANSI assert — min/max cannot honor deletes, and a
    silent wrong answer is worse than a failed batch."""
    measures = [c for c in base.columns if c not in keys]
    additive = [
        c for c in measures if c not in min_cols and c not in max_cols
    ]
    b = base.select(
        *keys, *[F.col(c).alias(f"__b_{c}") for c in measures]
    )
    guarded = delta_partial.withColumn(
        "n",
        F.when(
            F.col("n") < 0,
            F.raise_error(
                F.lit("merge_rollup_monotonic: retraction (n < 0) "
                      "not supported with min/max measures")
            ).cast("long"),
        ).otherwise(F.col("n")),
    )
    d = guarded.select(
        *keys, *[F.col(c).alias(f"__d_{c}") for c in measures]
    )
    merged = b.join(d, keys, "full_outer").select(
        *keys,
        *[
            (
                F.least(F.col(f"__b_{c}"), F.col(f"__d_{c}"))
                if c in min_cols
                else F.greatest(F.col(f"__b_{c}"), F.col(f"__d_{c}"))
                if c in max_cols
                else (
                    F.coalesce(F.col(f"__b_{c}"), F.lit(0))
                    + F.coalesce(F.col(f"__d_{c}"), F.lit(0))
                )
            ).alias(c)
            for c in measures
        ],
    )
    return merged.where(F.col("n") != 0)


def maintain_rollup_rescan(
    base: DataFrame,
    appends: DataFrame,
    retractions: DataFrame,
    keys: list[str],
    source: DataFrame,
    sum_cols: dict[str, str] | None = None,
    min_cols: dict[str, str] | None = None,
    max_cols: dict[str, str] | None = None,
) -> DataFrame:
    """Delete-capable maintenance for rollups carrying NON-INVERTIBLE
    (min/max) measures — the case merge_rollup_monotonic refuses.

    Algebra per measure class:

    - count/sum: invertible — appends add, retractions subtract, pure
      partial-merge arithmetic, history never read.
    - min/max under APPEND: mergeable — least/greatest(base, batch).
    - min/max under RETRACTION: not maintainable from the aggregate
      alone (deleting the current minimum cannot be undone), so the
      groups the retraction batch TOUCHES — and only those — are
      recomputed by a targeted scan of the post-delete *source*
      bounded to those keys. The affected-key set is batch-sized, so
      it broadcasts into the source scan where partition pruning /
      row-group stats keep the rescan near the affected data; the
      per-batch cost is O(batch) + O(history of affected groups), not
      O(history).

    This is the standard IVM treatment for non-distributive aggregates
    (partial recompute on affected groups); *source* must reflect the
    post-batch state (appends applied, retractions removed). Groups
    whose merged count reaches 0 are dropped, so delete-everything
    round-trips to absence.
    """
    sum_cols = sum_cols or {}
    min_cols = min_cols or {}
    max_cols = max_cols or {}
    mm_cols = {**min_cols, **max_cols}
    measures = ["n", *sum_cols, *mm_cols]

    app_p = rollup_partial_monotonic(
        appends, keys, sum_cols, min_cols, max_cols
    )
    ret_p = rollup_partial(retractions, keys, sum_cols)

    b = base.select(
        *keys, *[F.col(c).alias(f"__b_{c}") for c in measures]
    )
    a = app_p.select(
        *keys, *[F.col(c).alias(f"__a_{c}") for c in measures]
    )
    r = ret_p.select(
        *keys,
        *[F.col(c).alias(f"__r_{c}") for c in ["n", *sum_cols]],
        F.lit(True).alias("__retracted"),
    )
    merged = b.join(a, keys, "full_outer").join(r, keys, "full_outer")

    additive = [
        (
            F.coalesce(F.col(f"__b_{c}"), F.lit(0))
            + F.coalesce(F.col(f"__a_{c}"), F.lit(0))
            - F.coalesce(F.col(f"__r_{c}"), F.lit(0))
        ).alias(c)
        for c in ["n", *sum_cols]
    ]
    # append-side combine is always safe for min/max
    combined_mm = {
        c: (F.least if c in min_cols else F.greatest)(
            F.col(f"__b_{c}"), F.col(f"__a_{c}")
        )
        for c in mm_cols
    }

    affected = ret_p.select(*keys).distinct()
    rescan = (
        source.join(F.broadcast(affected), keys)
        .groupBy(*keys)
        .agg(
            *[
                F.min(src).alias(f"__s_{dst}")
                for dst, src in min_cols.items()
            ],
            *[
                F.max(src).alias(f"__s_{dst}")
                for dst, src in max_cols.items()
            ],
        )
    )
    out = merged.join(rescan, keys, "left_outer").select(
        *keys,
        *additive,
        *[
            F.when(
                F.col("__retracted").isNotNull(), F.col(f"__s_{c}")
            )
            .otherwise(combined_mm[c])
            .alias(c)
            for c in mm_cols
        ],
    )
    return out.where(F.col("n") != 0)


def streaming_cdc_rollup(
    stream: DataFrame,
    keys: list[str],
    sum_cols: dict[str, str],
    state_dir: str,
    checkpoint_dir: str,
    op_col: str = "op",
    state_partitions: int = 1,
) -> None:
    """Streaming IVM over a CDC feed: each micro-batch carries inserts
    AND deletes (``op_col`` in {'I', 'D'}), and its NET partial
    aggregate — inserts positive, deletes negated, combined in one
    map-side-combinable aggregate per batch — merges into versioned
    parquet state exactly like streaming_incremental_rollup.

    The sign trick keeps retraction on the streaming path free: a
    delete contributes (-1, -x) to the same groupBy the insert
    contributes (+1, +x), so the per-batch shuffle is one |batch-group|
    aggregate regardless of the insert/delete mix. INTERMEDIATE state
    keeps zero-count groups (drop_zero=False): a single batch can net
    a group to count 0 with a nonzero sum (delete x + insert y) and a
    later batch revives it — dropping there loses y−x. Fully-deleted
    groups disappear at READ time (read_rollup_state), where a
    consistent feed guarantees count 0 implies all-zero measures —
    insert-then-delete still round-trips to absence. State is
    versioned per batch id (a replayed batch overwrites its own
    version — idempotent under at-least-once). Additive measures only;
    min/max under streaming deletes need the batch-side
    maintain_rollup_rescan against a queryable source.
    *state_partitions* sizes each version's file count — state is
    |groups| rows, so the default single file avoids per-batch
    tiny-file commit overhead (see streaming_incremental_rollup).

    Starts and drains an availableNow foreachBatch query; read the
    final state with ``read_rollup_state``.
    """
    sign = F.when(F.col(op_col) == "D", F.lit(-1)).otherwise(F.lit(1))
    signed = stream.withColumn("__sign", sign)

    def net_partial(batch_df):
        aggs = [F.sum("__sign").cast("long").alias("n")]
        aggs += [
            F.sum(F.col(src) * F.col("__sign")).alias(dst)
            for dst, src in sum_cols.items()
        ]
        return batch_df.groupBy(*keys).agg(*aggs)

    def upsert(batch_df, batch_id: int) -> None:
        partial = net_partial(batch_df)
        base = store.read_latest(batch_df.sparkSession, state_dir, batch_id)
        merged = (
            merge_rollup(base, partial, keys, drop_zero=False)
            if base is not None
            else partial
        )
        store.commit_version(
            merged.repartition(state_partitions), state_dir, batch_id
        )

    drain(signed.writeStream.foreachBatch(upsert), checkpoint_dir)


def sketch_rollup_incremental(
    batch_df: DataFrame,
    state_dir: str,
    batch_id: int,
    keys: list[str],
    value_col: str,
    sketch_col: str = "sketch",
    state_partitions: int = 1,
) -> DataFrame:
    """Incremental DISTINCT-count state via persisted HLL sketches:
    each batch's per-group sketch partial unions into the stored
    sketch — the only way a distinct-count rollup stays incremental at
    100 TB (count(DISTINCT) partials don't merge; kB sketch binaries
    do, and they round-trip through parquet). The same versioned-state
    ledger as merge_rollup (``v<batch>`` dirs, replay overwrites its
    own version), with hll_union_agg as the merge operator instead of
    addition — distinct-union is commutative and idempotent, so ANY
    batch partitioning of the feed (including overlapping replays)
    converges to the full-corpus sketch. Per-batch cost: one
    map-side-combinable sketch aggregate over the batch + a
    |groups|-sized union merge; history never re-read. Estimate with
    ``F.hll_sketch_estimate`` at read (q187 gates the estimate within
    5% of exact, q48's self-verification contract).

    Returns the new state (keys..., sketch binary)."""
    spark = batch_df.sparkSession
    partial = batch_df.groupBy(*keys).agg(
        F.hll_sketch_agg(value_col).alias(sketch_col)
    )
    prior = store.read_latest(spark, state_dir, batch_id)
    if prior is not None:
        merged = (
            prior.select(*keys, sketch_col)
            .unionByName(partial)
            .groupBy(*keys)
            .agg(F.hll_union_agg(sketch_col).alias(sketch_col))
        )
    else:
        merged = partial
    return read_parquet_state(
        spark,
        store.commit_version(
            merged.repartition(state_partitions), state_dir, batch_id
        ),
    )


def read_rollup_state(
    spark, state_dir: str, check_cols: list[str] | None = None
) -> DataFrame:
    """Latest version of a versioned rollup state directory, with
    fully-retracted (count 0) groups dropped — the view-read
    semantic; intermediate versions keep them (see merge_rollup
    drop_zero).

    ``check_cols`` names the additive measure columns whose value a
    consistent feed guarantees to be zero whenever a group's count has
    netted to zero. When given, a dropped n=0 group carrying a NONZERO
    named measure raises at read time instead of being silently
    discarded — an inconsistent CDC feed (delete without its matching
    prior insert, or mismatched delete values) becomes a detectable
    error rather than silent data loss."""
    latest = store.read_latest(spark, state_dir)
    if latest is None:
        raise ValueError(
            f"read_rollup_state: no complete rollup version under {state_dir}"
        )
    if check_cols:
        bad = F.lit(False)
        for c in check_cols:
            bad = bad | (F.col(c) != 0)
        guard = F.when(
            (F.col("n") == 0) & bad,
            F.raise_error(
                F.concat(
                    F.lit(
                        "read_rollup_state: inconsistent CDC feed — "
                        "group with count 0 carries nonzero measures ("
                    ),
                    F.concat_ws(
                        ", ",
                        *[
                            F.concat(
                                F.lit(f"{c}="), F.col(c).cast("string")
                            )
                            for c in check_cols
                        ],
                    ),
                    F.lit(")"),
                )
            ).cast("long"),
        ).otherwise(F.col("n"))
        latest = latest.withColumn("n", guard)
    return latest.where(F.col("n") != 0)


def multiset_minmax_view(
    state: DataFrame, keys: list[str], value_col: str = "v"
) -> DataFrame:
    """Read min/max (plus count/sum) per group from VALUE-LEVEL rollup
    state — the third maintenance strategy for non-invertible
    aggregates, complementing the append-only merge and the targeted
    rescan: keep the additive rollup at (keys, value) granularity and
    min/max become DERIVED, fully retraction-safe reads.

    The state is just ``rollup_partial`` / ``merge_rollup`` over
    ``keys + [value_col]`` — deletes are ordinary negative deltas at
    that granularity, no rescan and no append-only restriction,
    because counting a multiset IS invertible. The trade is state
    size: O(|groups| x |distinct values per group|) instead of
    O(|groups|) — the right strategy when the value domain is bounded
    (status codes, bucketed measures, prices in cents), while
    unbounded domains take maintain_rollup_rescan. The read is one
    |state|-sized aggregate: min/max over values with surviving
    count > 0, count/sum re-derived from the per-value counts.
    """
    alive = state.where(F.col("n") > 0)
    return alive.groupBy(*keys).agg(
        F.sum("n").alias("n"),
        F.sum(F.col(value_col) * F.col("n")).alias("sum_v"),
        F.min(value_col).alias("min_v"),
        F.max(value_col).alias("max_v"),
    )
