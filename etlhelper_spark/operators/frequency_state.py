"""Incremental frequent-items state — a Misra-Gries sketch maintained
over an unbounded batch sequence, the frequency member of the
persisted-sketch family (HLL state in q187, dedup fingerprints in
q176, the weighted-sample reservoir in q199).

Why MG and not exact counts: an exact running (item, count) table
grows with the vocabulary — unbounded for open token/URL/entity
streams. MG counters are MERGEABLE with an additive error budget:
summing two sketches itemwise and evicting back to capacity keeps
undercount ≤ (N_a + N_b)/(capacity+1), so a batch pipeline can fold
batch after batch into ONE capacity-bounded state and still certify
every item whose true global count exceeds N/(capacity+1) is present
(no false negatives above the certified threshold — the pigeonhole
argument of functions/util.py::heavy_hitters applied across batches).

Per apply: one MG pass over the new batch (per-partition summaries,
the corpus never shuffles), a driver-side merge with the prior state
(≤ capacity + partitions × capacity counter rows — bounded by
construction, the collect is the same bounded-driver contract as the
pivot collections), quantile eviction back to capacity, and an
O(capacity) versioned state write (``v<batch>`` dirs — a replayed
batch overwrites its own version reading only versions below it,
idempotent under at-least-once).

The state row (item=NULL, cnt=N_total) carries the running total, so
readers can compute the certified threshold N/(capacity+1) and the
per-item bound [cnt, cnt + N/(capacity+1)] without any side channel.

Reference parity note: the reference (a DB-API cursor wrapper) has no
sketch machinery; this extends the suite's incremental-state family.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.util import literal_frame
from ..state.store import commit_version, read_latest

__all__ = ["heavy_hitters_incremental", "read_frequency_state"]


def heavy_hitters_incremental(
    new_df: DataFrame,
    state_dir: str,
    batch_id: int,
    col: str,
    capacity: int = 4096,
    state_partitions: int = 1,
) -> DataFrame:
    """Fold *new_df*'s values into the persisted MG state and return
    the updated state: (item, cnt, n_total) with one NULL-item row
    carrying the running total. ``cnt`` is a LOWER bound on the item's
    true count; the true count is ≤ cnt + n_total/(capacity+1), and
    every item with true count above that slack is guaranteed present
    (property-tested with planted skew)."""
    from ..functions.util import mg_evict, mg_summaries

    spark = new_df.sparkSession
    subdir = os.path.join(state_dir, "freq")
    cap = int(capacity)
    summary_rows = mg_summaries(new_df, col, cap).collect()
    mg: dict = {}
    n_total = 0
    for r in summary_rows:
        if r["item"] is None:
            n_total += int(r["n_p"])
        else:
            mg[r["item"]] = mg.get(r["item"], 0) + int(r["cnt"])
    prior = read_latest(spark, subdir, batch_id)
    if prior is not None:
        for r in prior.collect():
            if r["item"] is None:
                n_total += int(r["cnt"])
            else:
                mg[r["item"]] = mg.get(r["item"], 0) + int(r["cnt"])
    mg = mg_evict(mg, cap)
    out_rows = [(it, int(c)) for it, c in mg.items()] + [(None, n_total)]
    state = literal_frame(
        spark,
        out_rows,
        f"item {new_df.schema[col].dataType.simpleString()}, cnt long",
    ).select("item", "cnt", F.lit(n_total).alias("n_total"))
    commit_version(state.repartition(state_partitions), subdir, batch_id)
    return state


def read_frequency_state(spark, state_dir: str, batch_id: int) -> DataFrame:
    """Newest persisted frequency state strictly below *batch_id* —
    the reader a downstream consumer (or a replayed batch) uses."""
    subdir = os.path.join(state_dir, "freq")
    out = read_latest(spark, subdir, batch_id)
    if out is None:
        raise ValueError(
            f"read_frequency_state: no state versions under {subdir}"
        )
    return out
