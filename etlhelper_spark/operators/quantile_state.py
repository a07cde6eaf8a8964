"""Incremental quantile state — a KLL sketch maintained over an
unbounded batch sequence, the order-statistics member of the
persisted-sketch family (HLL distinct state in q187, MG frequency
counters in frequency_state.py, the fixed-edge histograms in
drift_state.py).

Why a sketch and not exact order statistics: exact percentiles over
accumulated history need the history (a full sort or a re-scan per
query). KLL partials are bounded-size (~1 kB at the default k),
MERGEABLE, and carry a proven rank-error guarantee (~1.65% at k=200),
so a pipeline can fold batch after batch into ONE tiny state row and
answer any later percentile question about the full accumulated
stream — the q111 rollup pattern turned into cross-run state.

Per apply: one scan of the new batch (kll_sketch_agg_double —
per-partition sketches merged by the agg, the values never shuffle),
one driver-side binary merge with the prior state sketch
(kll_sketch_merge_double on a two-row literal frame — O(sketch bytes),
the bounded-driver contract), and an O(1)-row versioned write
(``v<batch>`` dirs — a replayed batch overwrites its own version
reading only versions below it, idempotent under at-least-once).

The exact running count rides beside the sketch, so readers get both
the estimate and the n that scales its rank-error bound.

Reference parity note: the reference (a DB-API cursor wrapper,
/root/reference/etlhelper/etl.py) has no sketch machinery; this
extends the suite's incremental-state family.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.util import literal_frame, read_parquet_state
from ..state.store import commit_version, read_latest

__all__ = [
    "quantile_sketch_incremental",
    "read_quantile_state",
    "quantiles_from_state",
]


def quantile_sketch_incremental(
    new_df: DataFrame,
    state_dir: str,
    batch_id: int,
    col: str,
    k: int = 200,
) -> DataFrame:
    """Fold *new_df*'s ``col`` values into the persisted KLL state and
    return the updated one-row state ``(sk binary, n long, k long)``.
    NULLs are excluded (kll_sketch_agg_double skips them; ``n`` counts
    the same non-null population). Raises if the persisted state was
    built with a different k — sketches of different accuracy must not
    silently merge (the histogram-edges guard of drift_state.py)."""
    spark = new_df.sparkSession
    subdir = os.path.join(state_dir, "kll")
    k_i = int(k)
    delta = new_df.where(F.col(col).isNotNull()).agg(
        F.kll_sketch_agg_double(F.col(col).cast("double"), F.lit(k_i)).alias(
            "sk"
        ),
        F.count(F.lit(1)).alias("n"),
    ).first()
    prior = read_latest(spark, subdir, batch_id)
    if prior is not None:
        pr = prior.first()
        if int(pr["k"]) != k_i:
            raise ValueError(
                f"quantile_sketch_incremental: state at {subdir} was "
                f"built with k={pr['k']} — got k={k_i}"
            )
        n_total = int(pr["n"]) + int(delta["n"])
        if int(delta["n"]) == 0:  # empty batch: state is unchanged
            merged_sk = pr["sk"]
        else:
            merged_sk = (
                spark.range(1)
                .select(
                    F.kll_sketch_merge_double(
                        F.lit(bytes(pr["sk"])), F.lit(bytes(delta["sk"]))
                    ).alias("sk")
                )
                .first()["sk"]
            )
    else:
        if int(delta["n"]) == 0 or delta["sk"] is None:
            raise ValueError(
                "quantile_sketch_incremental: first batch has no "
                f"non-null {col!r} values — nothing to seed the state"
            )
        n_total, merged_sk = int(delta["n"]), delta["sk"]
    state = literal_frame(
        spark,
        [(bytes(merged_sk), n_total, k_i)],
        "sk binary, n long, k long",
    )
    return read_parquet_state(
        spark, commit_version(state.coalesce(1), subdir, batch_id)
    )


def read_quantile_state(spark, state_dir: str, batch_id: int) -> DataFrame:
    """Newest persisted quantile state strictly below *batch_id*."""
    subdir = os.path.join(state_dir, "kll")
    out = read_latest(spark, subdir, batch_id)
    if out is None:
        raise ValueError(
            f"read_quantile_state: no state versions under {subdir}"
        )
    return out


def quantiles_from_state(
    spark, state_dir: str, batch_id: int, probabilities: list[float]
) -> DataFrame:
    """Quantile estimates from the accumulated state: one row per
    requested probability ``(p, q)`` plus the exact running ``n``.
    O(sketch) work — the history is never touched."""
    state = read_quantile_state(spark, state_dir, batch_id)
    exprs = [F.col("n")]
    for i, p in enumerate(probabilities):
        exprs.append(
            F.kll_sketch_get_quantile_double(
                "sk", F.lit(float(p))
            ).alias(f"q{i}")
        )
    row = state.select(*exprs).first()
    return literal_frame(
        spark,
        [
            (float(p), float(row[f"q{i}"]), int(row["n"]))
            for i, p in enumerate(probabilities)
        ],
        "p double, q double, n long",
    )
