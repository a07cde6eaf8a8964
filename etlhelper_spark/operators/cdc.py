"""Change-data-capture apply: fold an ordered change feed into a
snapshot (the incremental-ingestion primitive).

The reference's closest surface is row-wise upsert SQL via
`executemany` (etlhelper/etl.py:233-339) and the docs' ON CONFLICT
recipes (docs/etl_functions/error_handling.rst); `operators/merge.py`
covers the set-based MERGE equivalent.  `apply_changes` is the
feed-shaped variant — the Delta-Lake/DLT "APPLY CHANGES INTO" pattern
re-expressed on plain DataFrames:

- one window over (keys, seq desc) picks each key's latest version —
  a single hash shuffle on the key columns, no join;
- snapshot rows enter the same window with NULL sequence (they lose
  to ANY change row for the key, win when a key has no changes);
- delete ops drop the key from the result.

At 100 TB the shuffle is on the snapshot+feed keyed rows; since the
feed is normally ≪ snapshot, the scale path is to pre-bucket the
snapshot by key so only the feed shuffles (same co-location argument
as `sources/bucketing.py`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.util import read_parquet_state
from ..state.store import commit_version, read_latest


def apply_changes(
    snapshot: DataFrame | None,
    changes: DataFrame,
    key_cols: list[str],
    seq_cols: list[str],
    op_col: str = "op",
    delete_value: str = "D",
) -> DataFrame:
    """Apply *changes* (with op + sequence columns) onto *snapshot*.

    snapshot: current state, one row per key, same data columns as
    *changes* minus ``op_col``/``seq_cols`` (pass None for an initial
    load).  changes: feed rows where ``op_col`` is insert/update (any
    value) or ``delete_value``, ordered per key by ``seq_cols``.

    Returns the next snapshot: latest non-delete version per key,
    without the op/sequence bookkeeping columns.
    """
    feed = changes
    if snapshot is not None:
        snap = snapshot
        for c in seq_cols:
            snap = snap.withColumn(
                c, F.lit(None).cast(dict(changes.dtypes)[c])
            )
        snap = snap.withColumn(op_col, F.lit("I"))
        feed = snap.select(changes.columns).unionByName(feed)
    w = Window.partitionBy(*key_cols).orderBy(
        *[F.col(c).desc_nulls_last() for c in seq_cols]
    )
    return (
        feed.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .where(F.col(op_col) != delete_value)
        .drop("__rn", op_col, *seq_cols)
    )


def snapshot_apply_incremental(
    changes: DataFrame,
    state_dir: str,
    batch_id: int,
    key_cols: list[str],
    seq_cols: list[str],
    op_col: str = "op",
    delete_value: str = "D",
    state_partitions: int = 1,
) -> DataFrame:
    """State-backed CDC apply that is correct under ARBITRARY batch
    partitioning of the feed — including out-of-order and late
    changes, the case a naive sequential :func:`apply_changes` loop
    gets WRONG: folding batches through a snapshot that discards
    sequence numbers makes any change beat the snapshot row, so a
    late-arriving OLDER update would overwrite the outcome of a
    newer delete that was applied in an earlier batch.

    The fix is the standard one: state keeps, per key, the
    LATEST-SEQUENCE change row ever seen — including deletes, as
    TOMBSTONES, with its true sequence columns. Each apply is one
    keyed window over (prior state ∪ new batch); a late old change
    loses to the stored tombstone/row on sequence, exactly as it
    would in the one-shot window over the full feed. Read the current
    snapshot with :func:`read_snapshot_state` (drops tombstones and
    bookkeeping). Oracle-verified in q186: applying an ARBITRARILY
    split feed (not time-ordered) batch by batch equals the one-shot
    latest-per-key computation.

    State is full-versioned (``v<batch>`` dirs — |keys| rows per
    version, the ivm convention; a replayed batch overwrites its own
    version reading only versions below). Per-batch cost: one hash
    shuffle on the keys over |state| + |batch| rows; at 100 TB
    pre-bucket the state by key so only the batch shuffles (the
    module-docstring co-location argument). Tombstones are retained
    indefinitely so any late change can still lose to them; bound
    retention by age-partitioning the state and dropping tombstone
    partitions past the lateness horizon.

    Returns the new full state (including tombstones)."""
    import os

    spark = changes.sparkSession
    subdir = os.path.join(state_dir, "snapshot")
    prior = read_latest(spark, subdir, batch_id)
    feed = (
        prior.select(changes.columns).unionByName(changes)
        if prior is not None
        else changes
    )
    w = Window.partitionBy(*key_cols).orderBy(
        *[F.col(c).desc_nulls_last() for c in seq_cols]
    )
    state = (
        feed.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    return read_parquet_state(
        spark,
        commit_version(state.repartition(state_partitions), subdir, batch_id),
    )


def read_snapshot_state(
    spark,
    state_dir: str,
    seq_cols: list[str],
    op_col: str = "op",
    delete_value: str = "D",
) -> DataFrame:
    """Current snapshot from the tombstoned state: latest version,
    tombstones dropped, bookkeeping columns removed."""
    import os

    state = read_latest(
        spark, os.path.join(state_dir, "snapshot"), 2**62
    )
    if state is None:
        raise ValueError("read_snapshot_state: empty state")
    return state.where(F.col(op_col) != delete_value).drop(
        op_col, *seq_cols
    )
