"""Incremental weighted sampling against persisted state — a
weight-proportional without-replacement sample maintained over an
unbounded batch sequence (the reservoir problem, solved with the
Efraimidis–Spirakis race the batch sampler already uses).

E-S makes reservoir maintenance trivially mergeable: a row's race key
u^(1/w) (md5-derived u — functions/util.py::weighted_sample's
determinism contract) depends only on the row, so the top-n of a
union is the top-n of (top-n of A) ∪ (top-n of B). The state is
therefore just the current n winners WITH their keys; each apply
scores only the new batch, unions the n-row state, and keeps the new
top-n — O(batch + n) per apply, and after any number of sequential
applies the sample is IDENTICAL to running the one-shot weighted
sampler over the full concatenated corpus (q199's oracle).

State is FULL-VERSIONED (``v<batch>`` dirs, the ivm convention — the
sample is rewritten, not appended): a replayed batch overwrites its
own version reading only versions below it, so the loop is idempotent
under at-least-once delivery.

Reference parity note: the reference (a DB-API cursor wrapper) has no
sampling machinery; its closest surface is chunked iteration
(etlhelper/etl.py:117-160), which this operator turns into a
bounded-memory corpus sample.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..state.store import commit_version, read_latest

__all__ = ["weighted_sample_incremental"]


def _es_scored(df: DataFrame, weight_col: str, hash_col: str) -> DataFrame:
    """*df* filtered to positive weights and scored with the
    Efraimidis–Spirakis race key u^(1/w) (md5-derived u — the
    determinism contract of functions/util.py::weighted_sample).
    Shared by ingestion and erasure (operators/erasure.py::
    forget_from_sample_state) so a re-race after a deletion request
    scores EXACTLY like the original ingestion."""
    u = (
        F.conv(
            F.substring(F.md5(F.col(hash_col).cast("string")), 1, 8), 16, 10
        ).cast("double")
        + F.lit(1.0)
    ) / F.lit(4294967296.0)
    return df.where(
        F.col(weight_col).isNotNull() & (F.col(weight_col) > 0)
    ).withColumn(
        "__es_key",
        F.pow(u, F.lit(1.0) / F.col(weight_col).cast("double")),
    )


def weighted_sample_incremental(
    new_df: DataFrame,
    state_dir: str,
    batch_id: int,
    weight_col: str,
    n: int,
    hash_col: str,
    state_partitions: int = 1,
) -> DataFrame:
    """Merge *new_df* into the persisted weighted sample and return
    the updated n-row sample (all input columns).

    Rows with weight <= 0 or NULL can never win a proportional race
    and are excluded, matching the batch sampler."""

    spark = new_df.sparkSession
    subdir = os.path.join(state_dir, "wsample")
    scored = _es_scored(new_df, weight_col, hash_col)
    prior = read_latest(spark, subdir, batch_id)
    pool = scored if prior is None else scored.unionByName(prior)
    sample = (
        pool.orderBy(F.col("__es_key").desc(), F.col(hash_col).asc())
        .limit(int(n))
        .localCheckpoint()  # pin before the version write below
    )
    commit_version(sample.repartition(state_partitions), subdir, batch_id)
    return sample.drop("__es_key")
